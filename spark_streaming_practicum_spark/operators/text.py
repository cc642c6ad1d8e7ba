"""Text analysis operators (north star; SURVEY.md §2C "Text analysis").

Language-ID, quality scoring, token counting, term frequency and
content fingerprinting over ``documents`` — all JVM-side expressions
(regex + higher-order functions), no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.textfns import EN_STOPWORDS, poly_hash, shingles, tokens
from ..registry import query
from ..functions.pins import pin

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)  AS n_tokens,
           CAST(LENGTH(text) AS BIGINT)                           AS n_chars_actual,
           n_chars                                                AS n_chars_meta,
           CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + distinct token counts (the BPE-precursor statistic)."""
    d = table(spark, sf_dir, "documents")
    tok = tokens("text")
    return d.select(
        "doc_id",
        F.size(tok).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.col("n_chars").alias("n_chars_meta"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_distinct_tokens"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               string_split(text, ' ') AS toks,
               len(list_filter(string_split(text, ' '),
                               t -> list_contains({_STOP_SQL}, t))) AS n_stop
        FROM documents)
    SELECT doc_id, lang AS lang_meta,
           ROUND(n_stop * 1.0 / len(toks), 4) AS en_stopword_ratio,
           CASE WHEN n_stop * 1.0 / len(toks) > 0.03 THEN 'en' ELSE 'other' END AS lang_pred
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic (n-gram/wordlist class of
    detector; the Spark plumbing is what scales, the wordlist is a stub)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    ratio = n_stop / F.size(toks)
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_meta"),
        F.round(ratio, 4).alias("en_stopword_ratio"),
        F.when(ratio > 0.03, "en").otherwise("other").alias("lang_pred"),
    )


@query(
    "text_lang_id_trigram",
    oracle="""
    WITH tri AS (
        SELECT DISTINCT doc_id, lang, tg FROM (
            SELECT doc_id, lang,
                   unnest(list_transform(generate_series(1, LENGTH(text) - 2),
                                         i -> substr(text, i, 3))) AS tg
            FROM documents)),
    ntri AS (SELECT doc_id, COUNT(*) AS nt FROM tri GROUP BY doc_id),
    prof AS (
        SELECT lang, tg FROM (
            SELECT lang, tg,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY COUNT(*) DESC, tg ASC) AS rk
            FROM tri GROUP BY lang, tg)
        WHERE rk <= 50),
    langs AS (SELECT DISTINCT lang FROM documents),
    m AS (SELECT t.doc_id, p.lang AS cand, COUNT(*) AS hits
          FROM tri t JOIN prof p ON t.tg = p.tg GROUP BY 1, 2),
    grid AS (SELECT d.doc_id, d.lang AS lang_meta, l.lang AS cand,
                    COALESCE(m.hits, 0) AS hits
             FROM documents d CROSS JOIN langs l
             LEFT JOIN m ON m.doc_id = d.doc_id AND m.cand = l.lang),
    scored AS (SELECT g.doc_id, g.lang_meta, g.cand,
                      ROUND(g.hits * 1.0 / ntri.nt, 4) AS tri_score,
                      ROW_NUMBER() OVER (PARTITION BY g.doc_id
                                         ORDER BY g.hits DESC, g.cand ASC) AS rk
               FROM grid g JOIN ntri ON g.doc_id = ntri.doc_id)
    SELECT doc_id, lang_meta, cand AS lang_pred, tri_score
    FROM scored WHERE rk = 1
    """,
)
def text_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram-profile language ID (Cavnar–Trenkle n-gram
    class of detector): per-language profiles = top-50 distinct-doc
    trigrams, each doc scored by profile overlap / its trigram count,
    argmax with deterministic (hits DESC, lang ASC) tie-break.

    Scale shape: profiles are a 250-row broadcast; the per-doc work is
    one explode + one broadcast join + one window — no quadratic step.
    Training labels come from the ``lang`` metadata column."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tg_arr = F.when(
        F.length("text") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.substr(F.col("text"), i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Distinct trigrams per doc via map-side array_distinct BEFORE the
    # explode — doc_id is unique per row, so this equals the row-level
    # distinct() it replaces, minus that distinct's full shuffle of the
    # exploded frame (the round-2 bench's highest-variance step).
    tri = pin(
        d.select("doc_id", "lang", F.explode(F.array_distinct(tg_arr)).alias("tg")),
        eager=True,  # shared by profile training, scoring and the nt count
    )
    ntri = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    rk = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tg").asc())
    prof = (
        tri.groupBy("lang", "tg")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 50)
        .select(F.col("lang").alias("cand"), "tg")
    )
    m = (
        tri.join(F.broadcast(prof), "tg")
        .groupBy("doc_id", "cand")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    langs = d.select("lang").distinct().select(F.col("lang").alias("cand"))
    grid = (
        d.select("doc_id", F.col("lang").alias("lang_meta"))
        .crossJoin(F.broadcast(langs))
        .join(m, ["doc_id", "cand"], "left")
        .withColumn("hits", F.coalesce("hits", F.lit(0)))
    )
    pick = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand").asc())
    return (
        grid.join(ntri, "doc_id")
        .withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "lang_meta",
            F.col("cand").alias("lang_pred"),
            F.round(F.col("hits") / F.col("nt"), 4).alias("tri_score"),
        )
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           ROUND(LENGTH(regexp_replace(text, '[^!?.,;:]', '', 'g')) * 1.0
                 / LENGTH(text), 4)     AS punct_ratio,
           ROUND(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                 / LENGTH(text), 4)     AS digit_ratio,
           ROUND(LENGTH(text) * 1.0
                 / len(string_split(text, ' ')), 4) AS avg_token_len,
           CASE WHEN LENGTH(text) BETWEEN 50 AND 10000
                 AND LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                     / LENGTH(text) < 0.3
                THEN 1 ELSE 0 END       AS passes_quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / digit-ratio quality gates (the C4/Gopher
    rule-filter family) as pure column expressions."""
    d = table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    punct = F.length(F.regexp_replace("text", r"[^!?.,;:]", ""))
    digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    n_toks = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        F.round(punct / n_chars, 4).alias("punct_ratio"),
        F.round(digits / n_chars, 4).alias("digit_ratio"),
        F.round(n_chars / n_toks, 4).alias("avg_token_len"),
        F.when(
            n_chars.between(50, 10000) & (digits / n_chars < 0.3), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("passes_quality"),
    )


@query(
    "text_term_frequency",
    oracle="""
    SELECT token, COUNT(*) AS tf,
           COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY tf DESC, token ASC
    LIMIT 50
    """,
)
def text_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF/DF: explode + two-level aggregate, top-50 terms.

    explode is map-side; the shuffle carries (token, partial counts) —
    the word-count shape that scales linearly."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(50)
    )


@query(
    "text_bigram_frequency",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bigram
           FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i))
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 30
    """,
)
def text_bigram_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word bigrams (n-gram generation via sequence+slice HOFs)."""
    from ..functions.textfns import shingles

    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    return (
        # project tokens before the shingle HOF (see ngram_draft docstring)
        d.select(w.alias("_w"))
        .select(F.explode(shingles(F.col("_w"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(30)
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_transform(generate_series(1, LENGTH(text)),
                              i -> CAST(ascii(text[i:i]) AS BIGINT)),
               (acc, x) -> (acc * 131 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash of the full text — a deterministic,
    SQL-reproducible document fingerprint (dedup key / shard router).

    Repartitioned first: the per-character fold is the most CPU-heavy
    row transform in the engine and must not run on a single file-task."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return d.select("doc_id", poly_hash("text").alias("fingerprint"))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@query(
    "text_bpe_ish_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
           ROUND(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) * 1.0
                 / len(string_split_regex(text, '\s+')), 4)     AS tokens_per_word
    FROM documents
    """,
)
def text_bpe_ish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style counting: a BPE-ish regex (letter runs, single
    digits, punctuation) next to plain whitespace counts — the
    pre-training corpus token-budget estimator, all JVM regex."""
    d = table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    ws = F.split(F.col("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.round(F.size(bpe) / F.size(ws), 4).alias("tokens_per_word"),
    )


@query(
    "text_char_entropy",
    oracle="""
    WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                FROM documents),
    cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
    tot AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY doc_id)
    SELECT cnt.doc_id,
           CAST(tot.n AS BIGINT) AS n_chars,
           ROUND(-SUM((k * 1.0 / n) * ln(k * 1.0 / n) / ln(2.0)), 6)
               AS char_entropy_bits
    FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
    GROUP BY cnt.doc_id, tot.n
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    cheap randomness gate that catches base64 blobs, repeated padding
    and mojibake without a model (low-entropy AND very-high-entropy
    docs both fail curation). Char frequencies by (doc, char) then a
    per-doc rollup: both shuffles carry at most |alphabet| rows per
    doc, so the op scales with corpus bytes, never quadratically."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    p = F.col("k") / F.col("n")
    return (
        cnt.withColumn("n", F.sum("k").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id", F.col("n").alias("n_chars"))
        .agg(F.round(-F.sum(p * F.log(p) / F.log(F.lit(2.0))), 6).alias("char_entropy_bits"))
    )


@query(
    "text_readability_flesch",
    oracle="""
    WITH stats AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
               CAST(CEIL(len(string_split(text, ' ')) / 15.0) AS DOUBLE) AS ns,
               CAST(list_sum(list_transform(
                        string_split(text, ' '),
                        x -> GREATEST(1, len(regexp_extract_all(x, '[aeiouy]+')))))
                    AS DOUBLE) AS nsyl
        FROM documents),
    scored AS (
        SELECT lang,
               ROUND(206.835 - 1.015 * (nw / ns) - 84.6 * (nsyl / nw), 6) AS f
        FROM stats)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(f AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
               AS avg_flesch,
           ROUND(MIN(f), 6) AS min_flesch,
           ROUND(MAX(f), 6) AS max_flesch
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language: 206.835 - 1.015(words/sentence)
    - 84.6(syllables/word), with syllables from the standard vowel-group
    heuristic and 15-word pseudo-sentences (the corpus has no sentence
    punctuation; the divisor is a documented normalization, the same
    role sentence splitting plays on real text). Readability is a cheap
    quality gate alongside `text_quality_score` — training corpora
    routinely drop the extreme tails.

    One scan; per-document arithmetic is codegen'd array math (no UDF);
    the per-language rollup sums through DECIMAL so the oracle cannot
    drift on summation order. Per-doc scores round to 6 dp BEFORE the
    rollup, making the decimal accumulation exact on both engines."""
    words = F.split(F.col("text"), " ")
    nw = F.size(words).cast("double")
    ns = F.ceil(F.size(words) / F.lit(15.0)).cast("double")
    nsyl = F.aggregate(
        F.transform(
            words,
            lambda x: F.greatest(
                F.lit(1), F.size(F.regexp_extract_all(x, F.lit("[aeiouy]+"), F.lit(0)))
            ),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double")
    scored = table(spark, sf_dir, "documents").select(
        "lang",
        F.round(
            F.lit(206.835) - 1.015 * (nw / ns) - 84.6 * (nsyl / nw), 6
        ).alias("f"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("f").cast("decimal(38,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_flesch"),
            F.round(F.min("f"), 6).alias("min_flesch"),
            F.round(F.max("f"), 6).alias("max_flesch"),
        )
        .orderBy("lang")
    )


_PMI_MIN_COUNT = 20


@query(
    "collocations_pmi_top",
    oracle=f"""
    WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
    uni AS (
        SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c
        FROM (SELECT unnest(w) AS tok FROM w) GROUP BY tok),
    nt AS (SELECT CAST(SUM(c) AS DOUBLE) AS nt FROM uni),
    bg AS (
        SELECT w[i:i] [1] AS w1, w[i+1:i+1] [1] AS w2,
               CAST(COUNT(*) AS DOUBLE) AS c12
        FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_PMI_MIN_COUNT}),
    nb AS (
        SELECT CAST(SUM(CAST(len(w) - 1 AS BIGINT)) AS DOUBLE) AS nb FROM w),
    scored AS (
        SELECT b.w1, b.w2, b.c12,
               LN((b.c12 / nb.nb) / ((u1.c / nt.nt) * (u2.c / nt.nt))) AS pmi
        FROM bg b
        JOIN uni u1 ON u1.tok = b.w1
        JOIN uni u2 ON u2.tok = b.w2
        CROSS JOIN nt CROSS JOIN nb)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS n_cooccur, ROUND(pmi, 6) AS pmi
    FROM scored
    ORDER BY ROUND(pmi, 6) DESC, w1, w2
    LIMIT 20
    """,
)
def collocations_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: adjacent
    word pairs whose co-occurrence beats the independence baseline,
    PMI = ln(P(w1w2) / (P(w1)P(w2))), with a count floor so rare-pair
    noise (PMI's classic failure mode) can't top the list. The standard
    first pass for multi-word-expression vocabularies before tokenizer
    training — the relational cousin of `bpe_learn_merges`' pair stats.

    Unigram and bigram tables are the usual two corpus aggregates;
    scoring joins are keyed on the word (vocabulary-sized); the two
    scalar totals ride broadcast cross joins. Counts are integers, so
    only the final log needs rounding."""
    d = table(spark, sf_dir, "documents").select(F.split("text", " ").alias("w"))
    uni = (
        d.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    nt = uni.agg(F.sum("c").alias("nt"))
    bg = (
        d.select(F.explode(shingles(F.col("w"), 2)).alias("bg"))
        .select(
            F.split("bg", " ")[0].alias("w1"),
            F.split("bg", " ")[1].alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_COUNT)
    )
    nb = d.agg(
        F.sum((F.size("w") - 1).cast("bigint")).cast("double").alias("nb")
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c12") / F.col("nb"))
        / ((F.col("c1") / F.col("nt")) * (F.col("c2") / F.col("nt")))
    )
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("n_cooccur"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


_FANO_TOPK = 30


@query(
    "term_burstiness_fano",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    per_doc AS (
        SELECT tok, doc_id, CAST(COUNT(*) AS DOUBLE) AS c
        FROM tok GROUP BY tok, doc_id),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    stats AS (
        SELECT tok,
               CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE) AS sc,
               CAST(SUM(CAST(c * c AS DECIMAL(38,6))) AS DOUBLE) AS scc,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM per_doc GROUP BY tok)
    SELECT s.tok,
           CAST(s.sc AS BIGINT) AS total_count,
           s.df,
           ROUND(((s.scc - s.sc * s.sc / d.n) / (d.n - 1))
                 / (s.sc / d.n), 6) AS fano_factor
    FROM stats s, nd d
    ORDER BY s.sc DESC, s.tok
    LIMIT {_FANO_TOPK}
    """,
)
def term_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness via the Fano factor (variance/mean of the
    per-document count, zeros included): function words scatter
    Poisson-like (factor ≈ 1) while topical terms clump into the few
    documents about them (factor >> 1) — the Church-Gale burstiness
    signal used for stopword discovery and term weighting beyond IDF.

    Zero-count documents never materialize: Σc and Σc² over documents
    CONTAINING the term already equal the full-population moments, so
    the variance needs only the corpus doc count. One (term, doc)
    aggregate, one vocabulary-sized rollup with DECIMAL moments, a
    TakeOrdered top-{_FANO_TOPK}."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    per_doc = tok.groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    n_docs = float(table(spark, sf_dir, "documents").count())
    stats = per_doc.groupBy("tok").agg(
        F.sum(F.col("c").cast("decimal(38,6)")).cast("double").alias("sc"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,6)"))
        .cast("double")
        .alias("scc"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    var = (F.col("scc") - F.col("sc") * F.col("sc") / n_docs) / (n_docs - 1)
    mean = F.col("sc") / n_docs
    return (
        stats.select(
            "tok",
            F.col("sc").cast("bigint").alias("total_count"),
            "df",
            F.round(var / mean, 6).alias("fano_factor"),
        )
        .orderBy(F.col("total_count").desc(), "tok")
        .limit(_FANO_TOPK)
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
                   AS n_tok,
               len(string_split(text, ' ')) AS n_words
        FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           ROUND(SUM(n_tok) * 1.0 / SUM(n_words), 4) AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY (tokens per word) by language — the standard
    multilingual-tokenizer equity metric: a vocabulary that fragments
    one language into 3x the tokens of another silently down-weights it
    at a fixed token budget (and triples its inference cost). Feeds the
    lang_temperature_resample weights with tokenizer-aware counts.

    One regex-count projection + one hash aggregate per lang —
    corpus-linear, integer sums, engine-identical regex."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0))
    n_words = F.size(F.split(F.col("text"), " "))
    per_doc = d.select("lang", n_tok.alias("n_tok"), n_words.alias("n_words"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.round(F.sum("n_tok") * 1.0 / F.sum("n_words"), 4).alias("fertility"),
    )


@query(
    "text_distinct_ngram_ratios",
    oracle="""
    WITH words AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    uni AS (
        SELECT lang, COUNT(*) AS total1, COUNT(DISTINCT tok) AS uniq1
        FROM (SELECT lang, unnest(w) AS tok FROM words) GROUP BY lang),
    bi AS (
        SELECT lang, COUNT(*) AS total2, COUNT(DISTINCT bg) AS uniq2
        FROM (SELECT lang, array_to_string(w[i:i+1], ' ') AS bg
              FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i))
        GROUP BY lang)
    SELECT u.lang,
           ROUND(u.uniq1 * 1.0 / u.total1, 6) AS distinct_1,
           ROUND(b.uniq2 * 1.0 / b.total2, 6) AS distinct_2
    FROM uni u JOIN bi b USING (lang)
    """,
)
def text_distinct_ngram_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 ratios per language — the text-generation
    diversity metric (Li et al.'s distinct-n) applied corpus-side:
    unique n-grams over total n-gram occurrences. Low values flag
    templated or degenerate text the per-document repetition gate
    (repetition_dup_ngram_fraction) can miss when the repetition is
    ACROSS documents.

    Two explode + count-distinct aggregates keyed on lang — the
    distinct shuffles carry (lang, gram) pairs, linear in corpus
    tokens."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    w = tokens(F.col("text"))
    uni = (
        d.select("lang", F.explode(w).alias("tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total1"),
            F.countDistinct("tok").alias("uniq1"),
        )
    )
    bi = (
        # project tokens before the shingle HOF (see ngram_draft docstring)
        d.select("lang", w.alias("_w"))
        .select("lang", F.explode(shingles(F.col("_w"), 2)).alias("bg"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total2"),
            F.countDistinct("bg").alias("uniq2"),
        )
    )
    return uni.join(bi, "lang").select(
        "lang",
        F.round(F.col("uniq1") * 1.0 / F.col("total1"), 6).alias("distinct_1"),
        F.round(F.col("uniq2") * 1.0 / F.col("total2"), 6).alias("distinct_2"),
    )


@query(
    "text_numeric_density",
    oracle="""
    SELECT doc_id, lang,
           LENGTH(text) AS n_chars,
           LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
           ROUND(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                 / LENGTH(text), 6) AS digit_density,
           LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
               / LENGTH(text) <= 0.3 AS passes_density_gate
    FROM documents
    WHERE LENGTH(text) > 0
    """,
)
def text_numeric_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit-density gate: the share of characters that are digits —
    high values flag tables, logs, serial dumps and price lists that
    pollute prose corpora (a standard C4/Gopher-family heuristic the
    word-stat gates don't capture, since digit runs often tokenize as
    'words'). Pure per-row regex arithmetic, map-side only; gate at
    30% like the published pipelines."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_digits = F.length(F.regexp_replace("text", "[^0-9]", ""))
    density = n_digits * 1.0 / F.length("text")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        n_digits.alias("n_digits"),
        F.round(density, 6).alias("digit_density"),
        (density <= 0.3).alias("passes_density_gate"),
    )


@query(
    "ngram_draft_acceptance_rate",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT doc_id, w[i] AS prev, w[i + 1] AS nxt
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    counts AS (SELECT prev, nxt, COUNT(*) AS c FROM bg GROUP BY prev, nxt),
    draft AS (
        SELECT prev, nxt AS draft_token FROM (
            SELECT prev, nxt,
                   ROW_NUMBER() OVER (PARTITION BY prev
                                      ORDER BY c DESC, nxt ASC) AS rk
            FROM counts)
        WHERE rk = 1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_positions,
           CAST(SUM(CASE WHEN bg.nxt = d.draft_token THEN 1 ELSE 0 END)
                AS BIGINT) AS n_accepted,
           ROUND(SUM(CASE WHEN bg.nxt = d.draft_token THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS acceptance_rate
    FROM bg JOIN draft d ON bg.prev = d.prev
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
)
def ngram_draft_acceptance_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative-decoding draft-model audit: train the cheapest draft
    model there is — the corpus bigram argmax (most frequent next
    token per token, deterministic count-then-alpha tie-break) — and
    score, per document, the fraction of positions where the draft's
    greedy prediction matches the actual next token. This acceptance
    rate is exactly the quantity that decides whether a draft model
    speeds up or slows down speculative decoding (Leviathan et al.
    2023), and the same corpus-scan shape estimates it for any n-gram
    draft.

    The draft table is one groupBy over exploded bigrams + a per-prev
    argmax; scoring joins each bigram to its prev's single draft row.
    The table is <= |vocab| rows — data-sized on a real corpus, so the
    join carries a SHUFFLE_HASH hint instead of a broadcast (round-13,
    guide §3.1): prev-token-keyed, per-partition build side bounded by
    |vocab|/P at any scale, and no sort-merge sorts of the exploded
    corpus stream. The corpus is scanned twice and never self-joined.

    The argmax is a PARTIAL-AGGREGABLE ``min(struct(-c, nxt))`` — NOT a
    rank window. A ``row_number() OVER (PARTITION BY prev)`` plans a
    full shuffle + per-partition SORT of the whole bigram-type stream
    just to keep rank 1 of each group; ``min(struct)`` collapses the
    same argmax map-side inside the hash aggregate (struct comparison
    is lexicographic: -c ascending = count descending, then nxt
    ascending — the oracle's exact tie-break), so only one candidate
    row per (prev) survives each partial aggregate. The 20x probe had
    this query at 16.3x (super-linear, 111 s) with the window; the
    rewrite is the same transformation that fixed semdedup's k-means
    argmin in round 4.

    The PREV token — the key of every shuffle here (bigram counts, the
    per-prev rank window, the draft join) — is DICTIONARY-ENCODED to a
    64-bit hash AT THE SCAN: the output carries only per-doc rates, so
    the string is never needed on the key side, and long keys both
    halve the shuffle key bytes and hash/compare faster than prose
    strings (round-3 probe: this query is scan/shuffle-bound). NXT
    stays a string because the oracle's draft tie-break (c DESC, nxt
    ASC) is alphabetical on the token — hashing it would reorder ties.
    xxhash64 is injective on any realistic vocabulary (collision odds
    ~|V|²/2⁶⁵, ~1e-9 at a 10M-type vocab); an adversarial vocabulary
    would swap in a join-based exact dictionary at the same position."""
    # The token array is PROJECTED to a column before the bigram HOF
    # references it. Inlining the split expression into the lambda put a
    # regexp split inside every element_at — the optimizer does not CSE
    # subexpressions across higher-order-function lambda boundaries, so
    # each document paid O(positions x split) instead of one split
    # (measured at the 20x probe lake: 111 s -> 5 s for this explode).
    # zip_with over two slices replaces sequence+element_at entirely:
    # one pass over the array, no per-position indexing.
    w = F.col("_w")
    bg = (
        table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("_w"))
        .filter(F.size(w) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(w, 1, F.size(w) - 1),
                    F.slice(w, 2, F.size(w) - 1),
                    lambda p, n: F.struct(
                        F.xxhash64(p).alias("prev"), n.alias("nxt")
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", "b.prev", "b.nxt")
    )
    bg = bg.transform(pin)
    counts = bg.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    draft = (
        counts.groupBy("prev")
        .agg(
            F.min(
                F.struct(
                    (-F.col("c")).alias("neg_c"),
                    F.col("nxt").alias("draft_token"),
                )
            ).alias("best")
        )
        .select("prev", F.col("best.draft_token").alias("draft_token"))
    )
    return (
        bg.join(draft.hint("shuffle_hash"), "prev")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_positions"),
            F.sum(F.when(F.col("nxt") == F.col("draft_token"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_accepted"),
        )
        .select(
            "doc_id",
            "n_positions",
            "n_accepted",
            F.round(F.col("n_accepted") * 1.0 / F.col("n_positions"), 6).alias(
                "acceptance_rate"
            ),
        )
        .orderBy("doc_id")
    )


# --- naive Bayes language classifier (train + eval in one job) ---------------


@query(
    "nb_lang_classifier_eval",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
    cw AS (SELECT lang, w, CAST(COUNT(*) AS DOUBLE) AS c
           FROM tok GROUP BY lang, w),
    cl AS (SELECT lang, SUM(c) AS cd FROM cw GROUP BY lang),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS vs FROM tok),
    nd AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
           FROM tok GROUP BY lang),
    ndt AS (SELECT SUM(n) AS nt FROM nd),
    lik AS (
        SELECT l.lang, w.w,
               CAST(LN((COALESCE(c.c, 0) + 1.0) / (l.cd + v.vs))
                    AS DECIMAL(38,12)) AS ll
        FROM cl l
        CROSS JOIN (SELECT DISTINCT w FROM tok) w
        CROSS JOIN v
        LEFT JOIN cw c ON c.lang = l.lang AND c.w = w.w),
    scored AS (
        SELECT t.doc_id, t.lang AS true_lang, k.lang AS cand,
               CAST(SUM(k.ll) AS DOUBLE)
                 + LN(nd.n / ndt.nt) AS logpost
        FROM tok t
        JOIN lik k ON k.w = t.w
        JOIN nd ON nd.lang = k.lang
        CROSS JOIN ndt
        GROUP BY t.doc_id, t.lang, k.lang, nd.n, ndt.nt),
    pred AS (
        SELECT doc_id, true_lang,
               (ARRAY_AGG(cand ORDER BY ROUND(logpost, 6) DESC, cand ASC))[1]
                   AS pred_lang
        FROM scored GROUP BY doc_id, true_lang)
    SELECT true_lang AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS accuracy
    FROM pred
    GROUP BY true_lang
    ORDER BY true_lang
    """,
)
def nb_lang_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained AND evaluated in one job: Laplace-
    smoothed per-language word likelihoods over the corpus vocabulary,
    document log-posteriors argmaxed against the true label, per-
    language accuracy reported — the in-engine supervised classifier
    (fastText's ancestor) a curation pipeline trains for quality or
    language routing without leaving the warehouse.

    Determinism across engines: each token's log-likelihood is cast to
    DECIMAL(38,12) BEFORE the per-(doc, lang) sum, so the posterior is
    an exact decimal total (float summation order can never flip an
    argmax), and prediction ties break alphabetically after a 6dp
    round. Scale shape: the likelihood table is (vocab x langs) —
    data-sized on a real corpus, so the scoring join carries NO
    broadcast hint (round-12 broadcast audit; AQE decides) — and it
    fans each token out by |langs| only inside the partial aggregate;
    the single corpus-scale shuffle is the per-(doc, lang) sum."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    cw = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    cl = cw.groupBy("lang").agg(F.sum("c").alias("cd"))
    vocab = tok.select("w").distinct()
    v = vocab.agg(F.count(F.lit(1)).cast("double").alias("vs"))
    nd = tok.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("double").alias("n")
    )
    ndt = nd.agg(F.sum("n").alias("nt"))
    lik = (
        cl.crossJoin(vocab)
        .crossJoin(F.broadcast(v))
        .join(cw, ["lang", "w"], "left")
        .select(
            "lang",
            "w",
            F.log((F.coalesce(F.col("c"), F.lit(0.0)) + 1.0) / (F.col("cd") + F.col("vs")))
            .cast("decimal(38,12)")
            .alias("ll"),
        )
    )
    scored = (
        tok.join(lik.withColumnRenamed("lang", "cand").hint("shuffle_hash"), "w")
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand")
        .agg(F.sum("ll").cast("double").alias("sll"))
        .join(F.broadcast(nd.withColumnRenamed("lang", "cand")), "cand")
        .crossJoin(F.broadcast(ndt))
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (F.col("sll") + F.log(F.col("n") / F.col("nt"))).alias("logpost"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("logpost"), 6).desc(), F.col("cand").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("true_lang", "cand")
    )
    return (
        pred.groupBy(F.col("true_lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("cand") == F.col("true_lang")).cast("int"))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum((F.col("cand") == F.col("true_lang")).cast("int"))
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("lang")
    )


_RAKE_TOPK = 3
_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


@query(
    "text_rake_keyphrases",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, i - 1 AS p, w[i] AS word,
               CASE WHEN w[i] IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS stop
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             unnest(generate_series(1, len(w))) AS t(i)),
    seg AS (
        SELECT doc_id, p, word, stop,
               SUM(stop) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS UNBOUNDED PRECEDING) AS phrase_id
        FROM pos),
    phrase_words AS (SELECT doc_id, phrase_id, p, word FROM seg WHERE stop = 0),
    phrase_len AS (
        SELECT doc_id, phrase_id, COUNT(*) AS plen
        FROM phrase_words GROUP BY doc_id, phrase_id),
    word_stats AS (
        SELECT pw.doc_id, pw.word,
               COUNT(*) AS freq, SUM(pl.plen) AS degree
        FROM phrase_words pw
        JOIN phrase_len pl ON pl.doc_id = pw.doc_id AND pl.phrase_id = pw.phrase_id
        GROUP BY pw.doc_id, pw.word),
    scored AS (
        SELECT pw.doc_id, pw.phrase_id,
               MIN(pw.p) AS first_pos,
               STRING_AGG(pw.word, ' ' ORDER BY pw.p) AS phrase,
               ROUND(CAST(SUM(CAST(ws.degree * 1.0 / ws.freq AS DECIMAL(38,12))) AS DOUBLE), 6) AS rake_score
        FROM phrase_words pw
        JOIN word_stats ws ON ws.doc_id = pw.doc_id AND ws.word = pw.word
        GROUP BY pw.doc_id, pw.phrase_id),
    ranked AS (
        SELECT doc_id, phrase, rake_score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY rake_score DESC, first_pos ASC) AS rk
        FROM scored)
    SELECT doc_id, CAST(rk AS INT) AS rk, phrase, rake_score
    FROM ranked WHERE rk <= {_RAKE_TOPK}
    """,
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): stopword-delimited
    candidate phrases, per-document word co-occurrence stats
    (degree/frequency), phrase score = sum of member word scores, top-3
    phrases per document (first-position tie-break).

    Everything is per-document relational algebra — posexplode, one
    cumulative window for phrase segmentation, two keyed aggregates —
    so the whole extractor shuffles on doc_id only and scales exactly
    like the tokenize stage of the pipeline. Complements
    `keyphrase_textrank` (graph centrality) with the degree/frequency
    heuristic that needs NO iteration at all."""
    d = table(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("w"))
    pos = d.select(
        "doc_id",
        F.posexplode("w").alias("p", "word"),
    ).withColumn("stop", F.col("word").isin(*EN_STOPWORDS).cast("int"))
    w_seg = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = pos.withColumn("phrase_id", F.sum("stop").over(w_seg))
    pw = seg.filter(F.col("stop") == 0).select("doc_id", "phrase_id", "p", "word")
    plen = pw.groupBy("doc_id", "phrase_id").agg(F.count(F.lit(1)).alias("plen"))
    ws = (
        pw.join(plen, ["doc_id", "phrase_id"])
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree"))
    )
    scored = (
        pw.join(ws, ["doc_id", "word"])
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.min("p").alias("first_pos"),
            F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("p", "word"))).getField("word")).alias("phrase"),
            F.round(F.sum((F.col("degree") * 1.0 / F.col("freq")).cast("decimal(38,12)")).cast("double"), 6).alias("rake_score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("rake_score").desc(), F.col("first_pos").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= _RAKE_TOPK)
        .select("doc_id", "rk", "phrase", "rake_score")
    )


_SB_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007)


@query(
    "lm_stupid_backoff_trigram",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
        SELECT doc_id, i, w[i] AS w3, w[i-1] AS w2, w[i-2] AS w1
        FROM w, unnest(generate_series(1, len(w))) AS t(i)),
    uni AS (SELECT w3 AS g1, COUNT(*) AS c1 FROM tok GROUP BY 1),
    tot AS (SELECT COUNT(*) AS t FROM tok),
    bi AS (SELECT w2 AS g1, w3 AS g2, COUNT(*) AS c2 FROM tok
           WHERE i >= 2 GROUP BY 1, 2),
    tri AS (SELECT w1 AS g1, w2 AS g2, w3 AS g3, COUNT(*) AS c3 FROM tok
            WHERE i >= 3 GROUP BY 1, 2, 3),
    scored AS (
        SELECT k.doc_id,
               CASE
                 WHEN t3.c3 IS NOT NULL THEN LN(t3.c3 * 1.0 / b12.c2)
                 WHEN b23.c2 IS NOT NULL
                     THEN LN({_SB_ALPHA} * b23.c2 / u2.c1)
                 ELSE LN({_SB_ALPHA} * {_SB_ALPHA} * u3.c1 / tot.t)
               END AS lp
        FROM tok k
        CROSS JOIN tot
        LEFT JOIN tri t3 ON t3.g1 = k.w1 AND t3.g2 = k.w2 AND t3.g3 = k.w3
        LEFT JOIN bi b12 ON b12.g1 = k.w1 AND b12.g2 = k.w2
        LEFT JOIN bi b23 ON b23.g1 = k.w2 AND b23.g2 = k.w3
        LEFT JOIN uni u2 ON u2.g1 = k.w2
        JOIN uni u3 ON u3.g1 = k.w3
        WHERE k.i >= 3)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           ROUND(CAST(SUM(CAST(lp AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
               AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def lm_stupid_backoff_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff language-model scoring (Brants et al.
    2007, the web-scale LM that dropped KN smoothing for a fixed 0.4
    backoff because it's embarrassingly parallel): corpus n-gram counts
    via three keyed aggregates, then every trigram position left-joins
    its counts and backs off trigram -> bigram -> unigram. Per-doc
    average log-score is the classic perplexity-style quality signal a
    pretraining pipeline uses for corpus filtering.

    Scale shape: every shuffle key here is a token DICTIONARY-ENCODED
    to a 64-bit xxhash64 AT THE SCAN (the round-4 rewrite that took
    `ngram_draft_acceptance_rate` from 16.3x to 3.5x at the 20x probe):
    the output carries only per-doc scores, so the token STRINGS are
    never needed on any key side — the count aggregates and the probe
    joins all hash/compare fixed-width longs instead of prose. Each
    backoff denominator is pre-joined onto its count table (type-sized
    joins), so the corpus-sized position stream probes 3 tables, not 5.
    The oracle keeps raw-string joins; results are identical because
    xxhash64 is injective on any realistic vocabulary (collision odds
    ~|V|^2/2^65). The backoff CASE is evaluated columnar-side; the
    per-doc reduce rides DECIMAL sums so summation order can't move
    the score. Complements `lm_kneser_ney_bigrams` (trained weights)
    with the scoring-side pass."""
    d = table(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("w"))
    tok = d.select(
        "doc_id",
        F.posexplode("w").alias("i0", "w3s"),
        F.col("w").alias("_w"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        F.xxhash64("w3s").alias("w3"),
        F.when(
            F.col("i0") >= 1, F.xxhash64(F.element_at("_w", F.col("i0")))
        ).alias("w2"),
        F.when(
            F.col("i0") >= 2, F.xxhash64(F.element_at("_w", F.col("i0") - 1))
        ).alias("w1"),
    ).transform(pin)
    uni = tok.groupBy(F.col("w3").alias("g1")).agg(F.count(F.lit(1)).alias("c1"))
    tot = tok.agg(F.count(F.lit(1)).alias("t"))
    # Attach each backoff level's DENOMINATOR to the count table itself
    # with type-sized joins (n-gram TYPES, far fewer rows than
    # positions): tri carries its (g1,g2) bigram count, bi carries its
    # g1 unigram count. The position stream then probes 3 tables
    # instead of 5 — two fewer shuffles of the corpus-sized stream,
    # which is the whole cost at scale. Composite n-gram keys are
    # further collapsed to ONE xxhash64 long each (k12/k23/k3): the
    # same injectivity argument as the token encode (null w1/w2 never
    # reaches a join input thanks to the i-filters), and the probe
    # shuffles carry 8-byte keys instead of 24.
    k12 = F.xxhash64(F.col("w1"), F.col("w2")).alias("k12")
    k23 = F.xxhash64(F.col("w2"), F.col("w3")).alias("k23")
    k3k = F.xxhash64(F.col("w1"), F.col("w2"), F.col("w3")).alias("k3")
    bi_h = (
        tok.filter(F.col("i") >= 2)
        .groupBy(k23)
        .agg(F.count(F.lit(1)).alias("c2"), F.first("w2").alias("_g1"))
    )
    tri_h = (
        tok.filter(F.col("i") >= 3)
        .groupBy(k3k)
        .agg(F.count(F.lit(1)).alias("c3"), F.first(k12).alias("_k12"))
    )
    tri_d = tri_h.join(
        bi_h.select(F.col("k23").alias("_k12"), F.col("c2").alias("c2_12")),
        ["_k12"],
    ).select("k3", "c3", "c2_12")
    bi_d = bi_h.join(
        uni.select(F.col("g1").alias("_g1"), F.col("c1").alias("c1_2")), ["_g1"]
    ).select("k23", "c2", "c1_2")
    k = tok.filter(F.col("i") >= 3).select("doc_id", "w3", k12, k23, k3k)
    a = F.lit(_SB_ALPHA)
    scored = (
        k.crossJoin(F.broadcast(tot))
        .join(tri_d, ["k3"], "left")
        .join(bi_d, ["k23"], "left")
        .join(uni, F.col("g1") == F.col("w3"))
        .select(
            "doc_id",
            F.when(
                F.col("c3").isNotNull(),
                F.log(F.col("c3") * 1.0 / F.col("c2_12")),
            )
            .when(
                F.col("c2").isNotNull(),
                F.log(a * F.col("c2") / F.col("c1_2")),
            )
            .otherwise(F.log(a * a * F.col("c1") / F.col("t")))
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.round(
            F.sum(F.col("lp").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_logprob"),
    )
