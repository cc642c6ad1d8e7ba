"""Topic modeling: one exact EM step of PLSA (probabilistic latent
semantic analysis), expressed relationally.

The reference delegates all querying to DuckDB and has no topic
modeling; this extends the corpus-analysis surface with the classic
Hofmann PLSA E/M step — the building block of topic-model training and
the simplest "what is this corpus about" summarizer that goes beyond
term counting (collocations_pmi_top, text_term_frequency).

Design for 100 TB:
- the doc-term matrix is restricted to the top-V corpus vocabulary
  (V=50 here), so every marginal is vocabulary-bounded: the E-step
  fanout is |ndw| x Z rows and the M-step reduces straight back to
  V x Z;
- topic priors are DETERMINISTIC functions of (vocab rank, topic) and
  (doc_id, topic) — integer formulas, no stored init, reproducible on
  any engine. All E-step responsibilities are exact rationals of
  integers evaluated identically in both engines;
- M-step numerators accumulate in DECIMAL(38,12), so the
  order-dependent float-sum hazard of a distributed reduce is gone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.textfns import tokens
from ..registry import query
from ..functions.pins import pin

_V = 50  # vocabulary size
_Z = 3  # topics
_TOPK = 5  # reported tokens per topic

# unnormalized priors: integer formulas shared by both engines
# p(w|z) ~ 1 + (widx*7919 + z*104729) % 97      (depends on vocab rank)
# p(z|d) ~ 1 + (doc_id + z) % 5                 (depends on doc id)
_PW = "(1 + ({w} * 7919 + {z} * 104729) % 97)"
_PD = "(1 + ({d} + {z}) % 5)"


def _a(z: int, others: tuple[int, int]) -> str:
    """Unnormalized responsibility numerator a_z for topic z, scaled by
    the other topics' vocab normalizers so all three share one exact
    integer denominator: a_z = pw(w,z) * pd(d,z) * zw_i * zw_j."""
    zo1, zo2 = others
    return (
        f"({_PW.format(w='widx', z=z)} * {_PD.format(d='doc_id', z=z)}"
        f" * zw{zo1} * zw{zo2})"
    )


_A1 = _a(1, (2, 3))
_A2 = _a(2, (1, 3))
_A3 = _a(3, (1, 2))


@query(
    "plsa_em_step_topics",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    vocab AS MATERIALIZED (
        SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w ASC) AS widx
        FROM (SELECT w, COUNT(*) AS n FROM tok GROUP BY w)
        ORDER BY n DESC, w ASC LIMIT {_V}),
    zw AS (
        SELECT SUM({_PW.format(w='widx', z=1)}) AS zw1,
               SUM({_PW.format(w='widx', z=2)}) AS zw2,
               SUM({_PW.format(w='widx', z=3)}) AS zw3
        FROM vocab),
    ndw AS (
        SELECT t.doc_id, v.widx, v.w, COUNT(*) AS n
        FROM tok t JOIN vocab v USING (w)
        GROUP BY t.doc_id, v.widx, v.w),
    gam AS (
        SELECT d.widx, d.w, z.z,
               d.n * (CASE z.z WHEN 1 THEN {_A1} WHEN 2 THEN {_A2}
                               ELSE {_A3} END)
                   * 1.0 / ({_A1} + {_A2} + {_A3}) AS term
        FROM ndw d, zw, unnest(generate_series(1, {_Z})) AS z(z)),
    m AS (
        SELECT z, widx, w,
               SUM(CAST(term AS DECIMAL(38,12))) AS num
        FROM gam GROUP BY z, widx, w),
    den AS (SELECT z, SUM(num) AS den FROM m GROUP BY z),
    p AS (
        SELECT m.z, m.w,
               CAST(m.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS pwz,
               ROW_NUMBER() OVER (PARTITION BY m.z
                                  ORDER BY m.num DESC, m.w ASC) AS rn
        FROM m JOIN den d USING (z))
    SELECT z, w AS token, ROUND(pwz, 6) AS p_w_given_z
    FROM p WHERE rn <= {_TOPK}
    ORDER BY z, p_w_given_z DESC, token
    """,
)
def plsa_em_step_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact PLSA EM step over the top-{V} vocabulary, reporting the
    {K} highest-probability tokens per topic after the M-step update.

    E-step responsibilities gamma(z | d, w) are exact rationals of the
    integer priors (the doc-side normalizer cancels; the vocab-side
    normalizers are cleared by cross-multiplying), so both engines
    compute bit-identical doubles. The M-step re-estimate
    p(w|z) = sum_d n(d,w) gamma / normalizer accumulates in DECIMAL.
    Plan shape: tokenize/count shuffle on the term key, vocab + its
    3 normalizers broadcast back, E-step fanout is x{Z} map-side,
    M-step reduces to V x Z rows — no stage ever carries more than
    |ndw| x {Z} rows, and every reduce is vocabulary-bounded."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # 50-row frame: the global window is over the LIMITed head, not data
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(_V)
        .withColumn(
            "widx",
            F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("w").asc())),
        )
        .select("w", "widx")
    )
    zw = vocab.agg(
        *[
            F.sum(F.expr(_PW.format(w="widx", z=z))).alias(f"zw{z}")
            for z in (1, 2, 3)
        ]
    )
    ndw = (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id", "widx", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base = ndw.crossJoin(F.broadcast(zw))
    terms = base.select(
        "widx",
        "w",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(z).alias("z"),
                        (
                            F.col("n")
                            * F.expr(a)
                            * F.lit(1.0)
                            / F.expr(f"({_A1} + {_A2} + {_A3})")
                        ).alias("term"),
                    )
                    for z, a in ((1, _A1), (2, _A2), (3, _A3))
                ]
            )
        ).alias("zt"),
    ).select("widx", "w", F.col("zt.z").alias("z"), F.col("zt.term").alias("term"))
    m = terms.groupBy("z", "widx", "w").agg(
        F.sum(F.col("term").cast("decimal(38,12)")).alias("num")
    )
    den = m.groupBy("z").agg(F.sum("num").alias("den"))
    w_rank = Window.partitionBy("z").orderBy(F.col("num").desc(), F.col("w").asc())
    return (
        m.join(F.broadcast(den), "z")
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _TOPK)
        .select(
            "z",
            F.col("w").alias("token"),
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("p_w_given_z"),
        )
        .orderBy("z", F.col("p_w_given_z").desc(), "token")
    )


plsa_em_step_topics.__doc__ = plsa_em_step_topics.__doc__.format(
    V=_V, K=_TOPK, Z=_Z
)


_TR_V = 40  # vocabulary (graph nodes)
_TR_D = 0.85
_TR_ITER = 2


def _textrank_oracle() -> str:
    """Unrolled TextRank iterations as chained CTEs (the PageRank
    scheme from operators/graph.py, applied to the word graph)."""
    head = f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    vocab AS MATERIALIZED (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS widx
        FROM (SELECT tok, COUNT(*) AS n
              FROM (SELECT unnest(w) AS tok FROM words)
              GROUP BY tok ORDER BY n DESC, tok LIMIT {_TR_V})),
    big AS MATERIALIZED (
        SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    co AS MATERIALIZED (
        SELECT va.widx AS src, vb.widx AS dst, COUNT(*) AS n
        FROM big
        JOIN vocab va ON string_split(bg, ' ')[1] = va.tok
        JOIN vocab vb ON string_split(bg, ' ')[2] = vb.tok
        WHERE va.widx <> vb.widx
        GROUP BY 1, 2),
    sym AS MATERIALIZED (
        SELECT src, dst, SUM(n) AS w FROM (
            SELECT src, dst, n FROM co
            UNION ALL SELECT dst, src, n FROM co) GROUP BY 1, 2),
    enorm AS MATERIALIZED (SELECT src, dst, w * 1.0 / SUM(w) OVER (PARTITION BY src) AS p
              FROM sym),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
    pr0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT cnt FROM nn) AS pr FROM nodes)
"""
    ctes = [head]
    for i in range(_TR_ITER):
        ctes.append(f"""
    pr{i + 1} AS MATERIALIZED (
        SELECT b.node,
               (1 - {_TR_D}) / (SELECT cnt FROM nn)
                   + {_TR_D} * COALESCE(inf.inflow, 0) AS pr
        FROM pr0 b
        LEFT JOIN (SELECT e.dst AS node, SUM(p.pr * e.p) AS inflow
                   FROM enorm e JOIN pr{i} p ON e.src = p.node
                   GROUP BY e.dst) inf ON b.node = inf.node)
""")
    return (
        ",".join(ctes)
        + f"""
    SELECT v.tok AS keyword, ROUND(pr.pr, 6) AS textrank
    FROM pr{_TR_ITER} pr JOIN vocab v ON pr.node = v.widx
    ORDER BY pr.pr DESC, v.tok LIMIT 10
    """
    )


@query("keyphrase_textrank", oracle=_textrank_oracle())
def keyphrase_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank (d=0.85, 2 iterations) over
    the word co-occurrence graph (adjacent-token edges within the
    top-{V} vocabulary), top-10 keywords — Mihalcea & Tarau's
    graph-based alternative to frequency ranking (a word is important
    if important words co-occur with it, not merely if it is common).

    The corpus reduces to a {V}-node weighted graph in one bigram
    pass; iterations then cost O(E) on that tiny graph (same
    loop-generated plan/oracle scheme as graph_pagerank_trade). At
    100 TB only the bigram count scales — the graph stays
    vocabulary-bounded."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(_TR_V)
        .withColumn(
            "widx",
            F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("w").asc())),
        )
        .select(F.col("w").alias("tok"), "widx")
    )
    big = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 1), "
                "i -> struct(split(text, ' ')[i - 1] AS t1, split(text, ' ')[i] AS t2))"
            )
        ).alias("bg")
    ).select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    va = vocab.select(F.col("tok").alias("t1"), F.col("widx").alias("src"))
    vb = vocab.select(F.col("tok").alias("t2"), F.col("widx").alias("dst"))
    co = (
        big.join(F.broadcast(va), "t1")
        .join(F.broadcast(vb), "t2")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sym = (
        co.select("src", "dst", "n")
        .unionAll(co.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "n"))
        .groupBy("src", "dst")
        .agg(F.sum("n").alias("w"))
        .transform(pin)
    )
    enorm = pin(
        sym.withColumn(
            "p", F.col("w") * 1.0 / F.sum("w").over(Window.partitionBy("src"))
        ).select("src", "dst", "p"),
        eager=True,
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    nn = nodes.count()
    pr = nodes.withColumn("pr", F.lit(1.0 / nn))
    for _ in range(_TR_ITER):
        inflow = (
            enorm.join(pr, enorm.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("inflow"))
            .withColumnRenamed("dst", "inode")
        )
        pr = (
            nodes.join(inflow, nodes.node == inflow.inode, "left")
            .select(
                "node",
                (
                    F.lit((1 - _TR_D) / nn)
                    + _TR_D * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.join(F.broadcast(vocab), pr.node == vocab.widx)
        .select(F.col("tok").alias("keyword"), F.round("pr", 6).alias("textrank"))
        .orderBy(F.col("textrank").desc(), "keyword")
        .limit(10)
    )


keyphrase_textrank.__doc__ = keyphrase_textrank.__doc__.replace("{V}", str(_TR_V))
