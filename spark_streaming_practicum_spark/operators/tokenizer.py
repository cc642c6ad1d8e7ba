"""Tokenizer-training surface: BPE merge learning as relational algebra.

The first N byte-pair-encoding merges — the core of every modern
tokenizer build (SentencePiece/tiktoken vocabularies) — learned over the
corpus with DataFrame operators only. Each round is:

1. PAIR COUNT — adjacent-symbol pair frequencies weighted by word count
   (one hash agg over the exploded symbol table);
2. SELECT — argmax by (count, lexicographic) — a 1-row broadcast;
3. APPLY — rewrite every occurrence of the chosen pair into the merged
   symbol. Selection is restricted to pairs with DIFFERENT symbols,
   which makes application order-free: occurrences of (x, y) with
   x != y can never overlap, so the rewrite is a per-position mark +
   renumber — no sequential scan, no UDF. (Self-pairs like (a, a) need
   greedy left-to-right semantics, which is exactly the part that does
   not distribute; production BPE trainers shard by word and hit the
   same issue inside each word, where it is cheap.)

At 100 TB the shape is the standard one: the symbol table is keyed by
(word, pos) and every step is either map-side or a hash agg on the pair
key; word counts mean each distinct word is processed once no matter how
often it appears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..functions.pins import pin

_ROUNDS = 3


def _pairs(chars: DataFrame) -> DataFrame:
    """Adjacent-symbol pairs weighted by word count."""
    w = Window.partitionBy("word").orderBy("pos")
    return (
        chars.withColumn("nxt", F.lead("sym").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("sym", "nxt")
        .agg(F.sum("c").alias("cnt"))
    )


def _best(pairs: DataFrame) -> DataFrame:
    """The winning merge: highest weighted count, ties broken
    lexicographically; self-pairs excluded (see module docstring)."""
    return (
        pairs.filter(F.col("sym") != F.col("nxt"))
        .orderBy(F.col("cnt").desc(), F.col("sym").asc(), F.col("nxt").asc())
        .limit(1)
        .select(
            F.col("sym").alias("left"),
            F.col("nxt").alias("right"),
            F.col("cnt").alias("pair_count"),
        )
    )


def _apply(chars: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every (left, right) adjacency into the merged symbol."""
    w = Window.partitionBy("word").orderBy("pos")
    annotated = (
        chars.crossJoin(F.broadcast(best))
        .withColumn("nxt", F.lead("sym").over(w))
        .withColumn("prv", F.lag("sym").over(w))
        .withColumn(
            "starts_merge",
            (F.col("sym") == F.col("left")) & (F.col("nxt") == F.col("right")),
        )
        .withColumn(
            "absorbed",
            (F.col("sym") == F.col("right")) & (F.col("prv") == F.col("left")),
        )
    )
    return (
        annotated.filter(~F.col("absorbed"))
        .select(
            "word",
            "c",
            F.row_number().over(w).alias("pos"),
            F.when(
                F.col("starts_merge"), F.concat(F.col("left"), F.col("right"))
            )
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )


# DuckDB mirror: one merge round, parameterized by input/output CTE names.
_PAIRS_SQL = """
    {pairs} AS (
        SELECT sym, nxt, CAST(SUM(c) AS BIGINT) AS cnt FROM (
            SELECT word, c, sym,
                   LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
            FROM {chars})
        WHERE nxt IS NOT NULL
        GROUP BY sym, nxt
    ),
    {best} AS (
        SELECT sym AS left_sym, nxt AS right_sym, cnt AS pair_count
        FROM {pairs} WHERE sym <> nxt
        ORDER BY cnt DESC, sym ASC, nxt ASC LIMIT 1
    )
"""
_APPLY_SQL = """
    {out} AS (
        SELECT word, c,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN starts_merge THEN left_sym || right_sym ELSE sym END AS sym
        FROM (
            SELECT a.word, a.c, a.pos, a.sym, b.left_sym, b.right_sym,
                   a.sym = b.left_sym
                       AND LEAD(a.sym) OVER (PARTITION BY a.word ORDER BY a.pos)
                           = b.right_sym AS starts_merge,
                   a.sym = b.right_sym
                       AND LAG(a.sym) OVER (PARTITION BY a.word ORDER BY a.pos)
                           = b.left_sym AS absorbed
            FROM {chars} a CROSS JOIN {best} b)
        WHERE NOT absorbed
    )
"""


def _oracle() -> str:
    sql = """
    WITH words AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS word
            FROM documents WHERE doc_id % 10 = 0)
        WHERE LENGTH(word) >= 2
        GROUP BY word
    ),
    chars0 AS (
        SELECT word, c, i AS pos, word[i:i] AS sym
        FROM words, unnest(generate_series(1, LENGTH(word))) AS t(i)
    )
    """
    selects = []
    for r in range(_ROUNDS):
        sql += (
            ","
            + _PAIRS_SQL.format(pairs=f"pairs{r}", best=f"best{r}", chars=f"chars{r}")
        )
        if r < _ROUNDS - 1:
            sql += "," + _APPLY_SQL.format(
                out=f"chars{r + 1}", chars=f"chars{r}", best=f"best{r}"
            )
        selects.append(
            f"SELECT {r + 1} AS merge_rank, left_sym || '+' || right_sym AS merge,"
            f" pair_count FROM best{r}"
        )
    return sql + "\n" + "\nUNION ALL\n".join(selects)


@query("bpe_learn_merges", oracle=_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three BPE merges learned from the corpus (see module
    docstring for the relational formulation and why selection excludes
    self-pairs). Output: merge rank, the merged pair, and its weighted
    occurrence count at selection time."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    chars = words.select(
        "word",
        "c",
        F.posexplode(F.split("word", "")).alias("p0", "sym"),
    ).select("word", "c", (F.col("p0") + 1).alias("pos"), "sym")

    results = []
    for r in range(_ROUNDS):
        best = _best(_pairs(chars)).transform(pin)
        results.append(
            best.select(
                F.lit(r + 1).alias("merge_rank"),
                F.concat(F.col("left"), F.lit("+"), F.col("right")).alias("merge"),
                "pair_count",
            )
        )
        if r < _ROUNDS - 1:
            chars = _apply(chars, best)
    out = results[0]
    for more in results[1:]:
        out = out.unionByName(more)
    return out
