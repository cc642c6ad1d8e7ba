"""Corpus-curation operators: quality gates, repetition, contamination.

The three filter families every LLM training-data pipeline runs between
raw ingest and tokenization (public method lineage: Gopher/MassiveText
quality heuristics, C4's repetition pruning, GPT-3's n-gram
train/test decontamination — all from the published papers):

- ``quality_gopher_gates``  — per-document word statistics with
  boolean accept gates (doc length, mean word length, top-word
  dominance, distinct-word ratio);
- ``repetition_dup_ngram_fraction`` — fraction of bigram occurrences
  that are repeats within the document (the rep-n signal);
- ``contamination_ngram_overlap`` — 5-gram overlap of held-out (test
  split) documents against the train split's n-gram set.

All three are exploded-token two-level aggregations — pure JVM column
expressions, shuffling on (doc_id, token) then doc_id, the layout that
scales linearly with corpus size. DuckDB-oracled end to end.

The reference has no curation surface (it stops at bronze ingest,
/root/reference/README.md:58-72); this module is part of the
BASELINE.json north-star extension set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.textfns import poly_hash, shingles, tokens
from ..registry import query
from ..functions.pins import pin
from .training import _bucket, _bucket_sql

_WORDS_SQL = "SELECT doc_id, string_split(text, ' ') AS w FROM documents"


@query(
    "quality_gopher_gates",
    oracle=f"""
    WITH words AS ({_WORDS_SQL}),
    tok AS (SELECT doc_id, unnest(w) AS word FROM words),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
    stats AS (SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_words,
                     COUNT(*) AS n_distinct,
                     MAX(c) AS max_wc,
                     ROUND(CAST(SUM(LENGTH(word) * c) AS DOUBLE) / SUM(c), 6)
                         AS mean_word_len
              FROM wc GROUP BY doc_id)
    SELECT doc_id, n_words, n_distinct, mean_word_len,
           ROUND(max_wc * 1.0 / n_words, 6) AS top_word_ratio,
           ROUND(n_distinct * 1.0 / n_words, 6) AS distinct_ratio,
           (n_words BETWEEN 10 AND 1000
            AND mean_word_len BETWEEN 2 AND 12
            AND max_wc * 1.0 / n_words <= 0.2
            AND n_distinct * 1.0 / n_words >= 0.3) AS passes
    FROM stats
    """,
)
def quality_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document quality gates: word count in [10, 1000],
    mean word length in [2, 12], most-common word <= 20% of tokens,
    distinct-word ratio >= 30%. Word stats come from an explode +
    (doc_id, word) partial count + per-doc rollup — two shuffles whose
    key cardinality tracks corpus size linearly, no per-doc quadratic
    work (the HOF alternative is O(words^2) per doc). Gate comparisons
    run on unrounded doubles identically in both engines; the surfaced
    ratios are rounded for hash stability."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wc = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_wc"),
        F.round(
            (F.sum(F.length("word") * F.col("c"))).cast("double") / F.sum("c"), 6
        ).alias("mean_word_len"),
    )
    top_ratio = F.col("max_wc") * 1.0 / F.col("n_words")
    distinct_ratio = F.col("n_distinct") * 1.0 / F.col("n_words")
    return stats.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "mean_word_len",
        F.round(top_ratio, 6).alias("top_word_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        (
            F.col("n_words").between(10, 1000)
            & F.col("mean_word_len").between(2, 12)
            & (top_ratio <= 0.2)
            & (distinct_ratio >= 0.3)
        ).alias("passes"),
    )


@query(
    "repetition_dup_ngram_fraction",
    oracle=f"""
    WITH words AS ({_WORDS_SQL}),
    sh AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
           FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM sh GROUP BY doc_id, bg)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_repeated,
           ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), 6)
               AS dup_bigram_fraction
    FROM cnt GROUP BY doc_id
    """,
)
def repetition_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher's rep-2): the fraction of
    bigram occurrences belonging to a bigram that appears more than once
    in the document. High values flag boilerplate/spam. Same exploded
    two-level aggregation shape as the quality gates; a bigram that
    repeats k times contributes all k occurrences to the numerator."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    bg = d.select("doc_id", tokens(F.col("text")).alias("_w")).select(
        "doc_id", F.explode(shingles(F.col("_w"), 2)).alias("bg")
    )
    cnt = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    repeated = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        repeated.alias("n_repeated"),
        F.round(repeated * 1.0 / F.sum("c"), 6).alias("dup_bigram_fraction"),
    )


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH words AS ({_WORDS_SQL}),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS ng
           FROM words, unnest(generate_series(1, len(w) - 4)) AS t(i)),
    train_ng AS (SELECT DISTINCT ng FROM sh
                 WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)")} < 80),
    test_sh AS (SELECT * FROM sh
                WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)")} >= 90)
    SELECT t.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN tr.ng IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           ROUND(SUM(CASE WHEN tr.ng IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS contamination
    FROM test_sh t LEFT JOIN train_ng tr ON t.ng = tr.ng
    GROUP BY t.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (GPT-3-style n-gram overlap): for each
    held-out document (hash split 'test', reusing split_train_val_test's
    assignment), the fraction of its distinct 5-grams that also occur
    anywhere in the train split. The overlap join keys on the n-gram
    string — at real scale the held-out side is a small benchmark whose
    n-gram set broadcasts (or ships as a bloom filter) so the train
    corpus is filtered map-side; the shuffle-join form here is the
    general case and the oracle target."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    bucket = poly_hash(F.col("doc_id").cast("string")) % 100
    sh = d.select(
        "doc_id", bucket.alias("bucket"), tokens(F.col("text")).alias("_w")
    ).select(
        "doc_id",
        "bucket",
        F.explode(shingles(F.col("_w"), 5)).alias("ng"),
    ).distinct()
    train_ng = (
        sh.filter(F.col("bucket") < 80)
        .select(F.col("ng").alias("tr_ng"))
        .distinct()
    )
    test_sh = sh.filter(F.col("bucket") >= 90)
    hit = F.sum(F.when(F.col("tr_ng").isNotNull(), 1).otherwise(0))
    return (
        test_sh.join(train_ng, test_sh.ng == train_ng.tr_ng, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            hit.alias("n_contaminated"),
            F.round(hit * 1.0 / F.count(F.lit(1)), 6).alias("contamination"),
        )
    )


@query(
    "dedup_crossdoc_ngram_coverage",
    oracle=f"""
    WITH words AS ({_WORDS_SQL}),
    sh AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
           FROM words, unnest(generate_series(1, len(w) - 4)) AS t(i)),
    docfreq AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY g)
    SELECT doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_crossdoc,
           ROUND(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS crossdoc_fraction
    FROM sh JOIN docfreq USING (g)
    GROUP BY doc_id
    """,
)
def dedup_crossdoc_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", at n-gram granularity):
    for every document, the fraction of its 5-gram occurrences that also
    appear in at least one OTHER document. High coverage = boilerplate /
    templated / copied text; the per-doc score drives drop-or-trim
    decisions that within-doc repetition (rep-n) and whole-doc hashing
    both miss.

    Architecture is the suffix-array substitute that actually
    distributes: an inverted index keyed on the n-gram — (doc, g)
    occurrences, doc-frequency by g, join back on g. Two shuffles on the
    n-gram key + one per-doc rollup, all hash-partitioned and
    linear in corpus size; the df table is the only global state and is
    itself partitioned by g (never collected)."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    sh = d.select("doc_id", tokens(F.col("text")).alias("_w")).select(
        "doc_id", F.explode(shingles(F.col("_w"), 5)).alias("g")
    ).transform(pin)
    docfreq = sh.groupBy("g").agg(F.count_distinct("doc_id").alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        sh.join(docfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            dup.alias("n_crossdoc"),
            F.round(dup * 1.0 / F.count(F.lit(1)), 6).alias("crossdoc_fraction"),
        )
    )


@query(
    "doc_bigram_logprob",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
    v AS (SELECT CAST(COUNT(DISTINCT w2) AS DOUBLE) AS vocab FROM bg),
    scored AS (
        SELECT b.doc_id,
               SUM(LN((m.c12 + 1.0) / (u.c1 + v.vocab))) AS lp,
               COUNT(*) AS n_bigrams
        FROM bg b
        JOIN bi m ON b.w1 = m.w1 AND b.w2 = m.w2
        JOIN uni u ON b.w1 = u.w1
        CROSS JOIN v
        GROUP BY b.doc_id)
    SELECT doc_id, ROUND(lp / n_bigrams, 6) AS avg_logprob
    FROM scored
    ORDER BY avg_logprob ASC, doc_id ASC
    LIMIT 25
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter, fully relational: score each
    document's average bigram log-probability under a Laplace-smoothed
    bigram LM trained on the corpus itself, and surface the 25 least
    probable (most anomalous) documents.

    The relational KenLM move: the "model" is two count tables (unigram
    contexts, bigrams) produced by the same explode that generates the
    scoring stream, so training and inference are one job. The bigram
    table is the only possibly-large join side — it's keyed exactly like
    the scoring stream (w1, w2), so the join co-partitions with no extra
    exchange; the context-count table is vocab-sized so it carries no
    broadcast hint either (round-12 audit; AQE decides), and only the
    1-row vocab scalar rides an explicit broadcast. At 100 TB
    you'd prune the LM to counts > 1 (the long tail is where the size
    is, and smoothing covers it) — the plan shape is unchanged."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    bg = d.select("doc_id", w.alias("_w")).select(
        "doc_id", F.explode(shingles(F.col("_w"), 2)).alias("bigram")
    ).select(
        "doc_id",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    vocab = bg.agg(F.countDistinct("w2").cast("double").alias("vocab"))
    scored = (
        bg.join(bi, ["w1", "w2"])
        .join(uni.hint("shuffle_hash"), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("vocab")))
            ).alias("lp"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )
    return (
        scored.select(
            "doc_id", F.round(F.col("lp") / F.col("n_bigrams"), 6).alias("avg_logprob")
        )
        .orderBy(F.col("avg_logprob").asc(), F.col("doc_id").asc())
        .limit(25)
    )


@query(
    "dsir_importance_weights",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
    src AS (SELECT w, COUNT(*) AS cs FROM toks GROUP BY w),
    tgt AS (SELECT w, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY w),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS ns,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS nt,
               CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
        FROM toks),
    scored AS (
        SELECT t.doc_id, t.lang,
               COUNT(*) AS n_tokens,
               SUM(LN((COALESCE(g.ct, 0) + 1.0) / (s.nt + s.v))
                   - LN((c.cs + 1.0) / (s.ns + s.v))) AS lr
        FROM toks t
        JOIN src c ON t.w = c.w
        LEFT JOIN tgt g ON t.w = g.w
        CROSS JOIN stats s
        GROUP BY t.doc_id, t.lang)
    SELECT doc_id, lang, n_tokens, ROUND(lr / n_tokens, 6) AS avg_log_ratio
    FROM scored
    ORDER BY avg_log_ratio DESC, doc_id ASC
    LIMIT 30
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023) data selection via importance resampling:
    score every document by the average per-token log-ratio of a target-
    domain language model to the source (whole-corpus) model, and surface
    the 30 most target-like documents. The target domain here is the
    English slice — the deterministic stand-in for "high-quality
    reference corpus" in the paper's recipe.

    Both "models" are Laplace-smoothed unigram count tables produced by
    the SAME token explode that generates the scoring stream (the
    relational-KenLM move of doc_bigram_logprob): training and inference
    are one job. The source table joins co-keyed on the token (no extra
    exchange after the explode shuffle); the target table is vocab-sized
    so it joins token-keyed under a SHUFFLE_HASH hint (round-13, guide
    §3.1: per-partition build side is vocab/P — bounded at any scale —
    and the hash join skips the sort-merge sorts a broadcast-less plan
    fell into), and only the 3-value stats row rides an explicit
    broadcast. At 100 TB, DSIR's own trick applies unchanged:
    replace raw tokens with hashed n-gram buckets (a fixed-width modulo
    on xxhash64) so the model tables have bounded cardinality."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    src = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cs"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("ns"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double").alias("nt"),
        F.countDistinct("w").cast("double").alias("v"),
    )
    log_ratio = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + F.col("v"))
    ) - F.log((F.col("cs") + 1.0) / (F.col("ns") + F.col("v")))
    scored = (
        toks.join(src, "w")
        .join(tgt.hint("shuffle_hash"), "w", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(log_ratio).alias("lr"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.col("lr") / F.col("n_tokens"), 6).alias("avg_log_ratio"),
        )
        .orderBy(F.col("avg_log_ratio").desc(), F.col("doc_id").asc())
        .limit(30)
    )


_QM_DIM = 1024  # hashed feature space width


@query(
    "quality_model_score",
    oracle=f"""
    WITH tri AS (
        SELECT doc_id, lang,
               substring(text, i, 3) AS tg
        FROM documents, unnest(generate_series(1, LENGTH(text) - 2)) AS t(i)
        WHERE LENGTH(text) >= 3),
    feats AS (
        SELECT doc_id, lang,
               list_reduce(list_transform(generate_series(1, 3),
                   k -> CAST(ascii(tg[k:k]) AS BIGINT)),
                   (acc, x) -> (acc * 131 + x) % 1000000007) % {_QM_DIM} AS j
        FROM tri),
    scored AS (
        SELECT doc_id, lang,
               COUNT(*) AS n,
               SUM(CAST((j * 2654435761) % 1000 AS DOUBLE) / 500.0 - 1.0)
                   AS raw
        FROM feats GROUP BY doc_id, lang)
    SELECT doc_id, lang,
           ROUND(1.0 / (1.0 + EXP(-(raw / n))), 6) AS quality_score,
           1.0 / (1.0 + EXP(-(raw / n))) >= 0.5 AS passes
    FROM scored
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality-classifier INFERENCE at corpus scale — the
    CCNet/LLaMA-pipeline step that scores every document with a linear
    model over hashed character-n-gram features (bag of hashed trigrams
    -> weight lookup -> mean -> sigmoid).

    The weight vector is synthesized deterministically from the feature
    index (a Knuth multiplicative hash into [-1, 1]) so both engines
    score identically; swapping in real trained weights is a broadcast
    join against a 1024-row table with the same plan. Everything is one
    explode + two hash aggs keyed by (doc, feature): inference cost is
    linear in corpus bytes and embarrassingly parallel — the shape that
    lets a quality model run over 100 TB as a single pass."""
    # repartition first: the corpus is one parquet file locally, and the
    # trigram explode is the hot transform — same rationale as
    # text_fingerprint / _doc_shingles
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    tri = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
        ).alias("tg"),
    )
    # closed form of poly_hash for 3-grams: the rolling fold's accumulator
    # peaks at 127*131^2 + 127*131 + 127 << 1e9+7, so no intermediate mod
    # ever fires and the unrolled expression is value-identical — but it
    # is pure codegen'd arithmetic instead of an interpreted per-char
    # lambda fold (the fold costs ~3 lambda dispatches per trigram; this
    # was the hottest expression in the corpus-curation bench family).
    c = lambda k: F.ascii(F.substring(F.col("tg"), k, 1))  # noqa: E731
    j = ((c(1) * 131 * 131 + c(2) * 131 + c(3)).cast("long") % 1000000007) % _QM_DIM
    # Per-occurrence weight summed directly: sum_occ w(j) == sum_j c_j*w_j,
    # so the per-feature intermediate aggregate (an extra shuffle keyed by
    # (doc, feature)) is unnecessary — inference is ONE hash agg per doc.
    weight = ((j * 2654435761) % 1000).cast("double") / 500.0 - 1.0
    scored = tri.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(weight).alias("raw"),
    )
    score = 1.0 / (1.0 + F.exp(-(F.col("raw") / F.col("n"))))
    return scored.select(
        "doc_id",
        "lang",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("passes"),
    )


@query(
    "chi2_feature_selection",
    oracle=r"""
    WITH toks AS (
        SELECT DISTINCT doc_id, (lang = 'en') AS is_en,
               unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents),
    counts AS (
        SELECT tok,
               CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS DOUBLE) AS a,
               CAST(SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS DOUBLE) AS b
        FROM toks WHERE length(tok) >= 3
        GROUP BY tok
        HAVING COUNT(*) >= 20
           AND COUNT(*) < (SELECT COUNT(*) FROM documents)),
    tot AS (
        SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_en,
               CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE) AS n_rest
        FROM documents),
    chi AS (
        SELECT tok,
               CAST(a AS BIGINT) AS df_en,
               CAST(b AS BIGINT) AS df_rest,
               (n_en + n_rest)
                 * (a * (n_rest - b) - b * (n_en - a))
                 * (a * (n_rest - b) - b * (n_en - a))
                 / ((a + b) * (n_en - a + n_rest - b)
                    * n_en * n_rest) AS chi2
        FROM counts, tot)
    SELECT tok, df_en, df_rest, ROUND(chi2, 6) AS chi2
    FROM chi
    ORDER BY ROUND(chi2, 6) DESC, tok
    LIMIT 20
    """,
)
def chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection: which vocabulary terms are most
    associated with the English subcorpus — the standard supervised
    term-selection step before training a text classifier (and the
    relational core of fastText-style feature pruning).

    Plan: tokenize → per-doc DISTINCT (the inverted-index build: one
    shuffle keyed on (doc, token)) → token-keyed contingency aggregate
    with a document-frequency floor bounding the tail, then the chi2
    closed form against broadcast corpus totals and a
    TakeOrderedAndProject top-20. Both engines evaluate the identical
    arithmetic expression tree over exactly-representable integer
    counts, so the statistic is bit-stable before rounding."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            (F.col("lang") == "en").alias("is_en"),
            F.explode(tokens("text")).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
        .distinct()
    )
    counts = (
        toks.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("double").alias("a"),
            F.sum(F.when(F.col("is_en"), 0).otherwise(1)).cast("double").alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= 20)
    )
    tot = d.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double")
        .alias("n_en"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("double")
        .alias("n_rest"),
    )
    num = F.col("a") * (F.col("n_rest") - F.col("b")) - F.col("b") * (
        F.col("n_en") - F.col("a")
    )
    chi2 = (
        (F.col("n_en") + F.col("n_rest"))
        * num
        * num
        / (
            (F.col("a") + F.col("b"))
            * (F.col("n_en") - F.col("a") + F.col("n_rest") - F.col("b"))
            * F.col("n_en")
            * F.col("n_rest")
        )
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        # a term present in EVERY doc zeroes the (c+d) margin and the
        # statistic is undefined — exclude it (mirrored in the oracle)
        .filter(F.col("a") + F.col("b") < F.col("n_en") + F.col("n_rest"))
        .select(
            "tok",
            F.col("a").cast("bigint").alias("df_en"),
            F.col("b").cast("bigint").alias("df_rest"),
            F.round(chi2, 6).alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "tok")
        .limit(20)
    )


_FH_BUCKETS = 4096


@query(
    "feature_hashing_collision_audit",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents),
    hashed AS (
        SELECT tok, {_bucket_sql("tok", _FH_BUCKETS)} AS bucket FROM toks),
    loads AS (
        SELECT bucket, COUNT(*) AS load FROM hashed GROUP BY bucket)
    SELECT CAST((SELECT COUNT(*) FROM toks) AS BIGINT) AS n_distinct_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST((SELECT COUNT(*) FROM toks) - COUNT(*) AS BIGINT)
               AS n_collisions,
           ROUND(((SELECT COUNT(*) FROM toks) - COUNT(*)) * 1.0
                 / (SELECT COUNT(*) FROM toks), 6) AS collision_rate,
           CAST(MAX(load) AS BIGINT) AS max_bucket_load
    FROM loads
    """,
)
def feature_hashing_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick audit for the {_FH_BUCKETS}-bucket feature space the
    `quality_model_score` classifier hashes into: distinct vocabulary,
    buckets actually hit, collision count/rate, and the worst bucket's
    load — the numbers that tell you whether hash collisions are
    silently merging informative features (grow the table) or the table
    is oversized (shrink it).

    One distinct-token aggregate, one bucket count — both
    vocabulary-sized frames; the bucket hash is the repo's shared
    polynomial hash, so the audit reproduces bit-for-bit in DuckDB."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    hashed = toks.select(_bucket(F.col("tok"), _FH_BUCKETS).alias("bucket"))
    loads = hashed.groupBy("bucket").agg(F.count(F.lit(1)).alias("load"))
    n_tok = F.max("n_tok")
    return (
        loads.crossJoin(
            F.broadcast(toks.agg(F.count(F.lit(1)).alias("n_tok")))
        ).agg(
            n_tok.cast("bigint").alias("n_distinct_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
            (n_tok - F.count(F.lit(1))).cast("bigint").alias("n_collisions"),
            F.round(
                (n_tok - F.count(F.lit(1))) * 1.0 / n_tok, 6
            ).alias("collision_rate"),
            F.max("load").cast("bigint").alias("max_bucket_load"),
        )
    )


@query(
    "boilerplate_domain_segments",
    oracle="""
    WITH segs AS (
        SELECT DISTINCT doc_id, source, TRIM(seg) AS seg
        FROM (SELECT doc_id, source, unnest(string_split(text, '.')) AS seg
              FROM documents)
        WHERE LENGTH(TRIM(seg)) > 0),
    per_source AS (
        SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY source),
    seg_df AS (
        SELECT source, seg, COUNT(*) AS n_seg_docs
        FROM segs GROUP BY source, seg)
    SELECT s.source,
           p.n_docs,
           COUNT(*) AS n_boilerplate_segs,
           MAX(s.n_seg_docs) AS worst_seg_docs
    FROM seg_df s JOIN per_source p USING (source)
    WHERE s.n_seg_docs * 10 >= p.n_docs * 3
    GROUP BY s.source, p.n_docs
    ORDER BY s.source
    """,
)
def boilerplate_domain_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate detection: sentence segments that repeat
    across >=30% of a source's documents (navigation chrome, cookie
    banners, footers) — the per-DOMAIN repetition signal that corpus-wide
    paragraph dedup (dedup_paragraph_exact) structurally misses, because
    boilerplate is frequent within a domain yet can be globally rare.

    Round 13: both document frequencies come straight off the exploded
    scan as count_distinct aggregates (map-side partial distinct), so
    NO text bytes are ever shuffled — the previous shape paid a full
    doc_id repartition of the corpus plus a 3-column distinct exchange
    of every segment before aggregating (and, unpinned, computed
    that distinct once per consumer branch). n_seg_docs =
    COUNT(DISTINCT doc_id) per (source, seg) is definitionally the
    COUNT(*) the oracle takes over the distinct segs; measured at
    sf0.1 the swap is 0.89 s -> 0.46 s min-of-5 (back at the r11-era
    floor this query was flagged against). The 30% gate compares
    integer counts cross-multiplied (n_seg_docs*10 >= n_docs*3) so no
    float ratio enters the oracle hash."""
    d = table(spark, sf_dir, "documents")
    exploded = (
        d.select(
            "doc_id",
            "source",
            F.explode(F.split("text", "\\.")).alias("seg"),
        )
        .select("doc_id", "source", F.trim("seg").alias("seg"))
        .filter(F.length("seg") > 0)
    )
    per_source = exploded.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    seg_df = exploded.groupBy("source", "seg").agg(
        F.countDistinct("doc_id").alias("n_seg_docs")
    )
    return (
        seg_df.join(F.broadcast(per_source), "source")
        .filter(F.col("n_seg_docs") * 10 >= F.col("n_docs") * 3)
        .groupBy("source", "n_docs")
        .agg(
            F.count(F.lit(1)).alias("n_boilerplate_segs"),
            F.max("n_seg_docs").alias("worst_seg_docs"),
        )
        .select("source", "n_docs", "n_boilerplate_segs", "worst_seg_docs")
        .orderBy("source")
    )


@query(
    "pipeline_pretraining_prep",
    oracle=f"""
    WITH words AS ({_WORDS_SQL}),
    tok AS (SELECT doc_id, unnest(w) AS word FROM words),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
    stats AS (SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_words,
                     MAX(c) AS max_wc
              FROM wc GROUP BY doc_id),
    gated AS (
        SELECT d.doc_id, d.lang, d.text, s.n_words
        FROM documents d JOIN stats s USING (doc_id)
        WHERE s.n_words BETWEEN 10 AND 1000
          AND s.max_wc * 1.0 / s.n_words <= 0.2),
    deduped AS (
        SELECT lang, text, MIN(doc_id) AS doc_id, MIN(n_words) AS n_words
        FROM gated GROUP BY lang, text),
    split AS (
        SELECT lang, n_words,
               CASE WHEN {_bucket_sql("CAST(doc_id AS VARCHAR)")} < 80
                    THEN 'train' ELSE 'heldout' END AS split
        FROM deduped)
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens
    FROM split GROUP BY split, lang
    ORDER BY split, lang
    """,
)
def pipeline_pretraining_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-data user journey in ONE lazy plan:
    quality gates (Gopher word stats) -> exact dedup (keep lowest
    doc_id per identical text) -> deterministic hash split -> per
    (split, lang) document/token budget — i.e. the four pipeline
    stages a data team runs nightly, composed exactly as the
    individually-oracled operators (quality_gopher_gates, dedup_exact,
    split_train_val_test, dataset_card_summary) chain in production.

    Stage boundaries share partitionings where possible: the word-stat
    shuffles key on doc_id, the dedup keys on (lang, text), the final
    rollup on (split, lang) — every reduce collapses the data before
    the next stage, so peak shuffle width is the FIRST aggregation's,
    not the sum of stages. One oracled result certifies the whole
    composition (component bugs can't cancel silently at this row
    granularity)."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wc = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"), F.max("c").alias("max_wc")
    )
    gated = (
        d.select("doc_id", "lang", "text")
        .join(stats, "doc_id")
        .filter(
            F.col("n_words").between(10, 1000)
            & (F.col("max_wc") * 1.0 / F.col("n_words") <= 0.2)
        )
    )
    deduped = gated.groupBy("lang", "text").agg(
        F.min("doc_id").alias("doc_id"), F.min("n_words").alias("n_words")
    )
    split = deduped.select(
        "lang",
        "n_words",
        F.when(_bucket(F.col("doc_id").cast("string")) < 80, "train")
        .otherwise("heldout")
        .alias("split"),
    )
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


@query(
    "curation_attrition_funnel",
    oracle=f"""
    WITH words AS ({_WORDS_SQL}),
    tok AS (SELECT doc_id, unnest(w) AS word FROM words),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
    stats AS (SELECT doc_id,
                     CAST(SUM(c) AS BIGINT) AS n_words,
                     MAX(c) AS max_wc
              FROM wc GROUP BY doc_id),
    bg AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS b
           FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
    bgc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    rep AS (SELECT doc_id,
                   SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c) AS dupf
            FROM bgc GROUP BY doc_id),
    flags AS (
        SELECT d.doc_id, s.n_words,
               (s.n_words BETWEEN 10 AND 1000
                AND s.max_wc * 1.0 / s.n_words <= 0.2) AS q_ok,
               (r.dupf < 0.2) AS r_ok,
               (d.doc_id = MIN(d.doc_id) OVER (PARTITION BY d.text)) AS first_occ
        FROM documents d JOIN stats s USING (doc_id) JOIN rep r USING (doc_id)),
    tot AS (SELECT COUNT(*) AS n0 FROM flags)
    SELECT stage, n_docs, n_tokens,
           ROUND(n_docs * 1.0 / t.n0, 4) AS frac_of_raw
    FROM (
        SELECT '0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens FROM flags
        UNION ALL
        SELECT '1_quality', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_words) AS BIGINT) FROM flags WHERE q_ok
        UNION ALL
        SELECT '2_repetition', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_words) AS BIGINT) FROM flags WHERE q_ok AND r_ok
        UNION ALL
        SELECT '3_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_words) AS BIGINT) FROM flags
        WHERE q_ok AND r_ok AND first_occ
    ) f, tot t
    ORDER BY stage
    """,
)
def curation_attrition_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation ATTRITION funnel: how many documents (and tokens)
    survive each successive gate — raw -> quality -> repetition ->
    exact dedup — the bookkeeping table every corpus release publishes
    (and the first thing reviewed when a data refresh shifts model
    quality: which gate's attrition moved?).

    All gate flags compute in one pass over the per-doc stat frames
    (shared shuffles on doc_id), the first-occurrence flag is one
    window keyed on text, and the four stage rows are conditional
    aggregates over the SAME flags frame — adding a stage never adds a
    scan."""
    d = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wc = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"), F.max("c").alias("max_wc")
    )
    bgc = (
        d.select("doc_id", tokens(F.col("text")).alias("_w"))
        .select("doc_id", F.explode(shingles(F.col("_w"), 2)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rep = bgc.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            * 1.0
            / F.sum("c")
        ).alias("dupf")
    )
    w_first = Window.partitionBy("text")
    flags = (
        d.select("doc_id", "text")
        .join(stats, "doc_id")
        .join(rep, "doc_id")
        .select(
            "doc_id",
            "n_words",
            (
                F.col("n_words").between(10, 1000)
                & (F.col("max_wc") * 1.0 / F.col("n_words") <= 0.2)
            ).alias("q_ok"),
            (F.col("dupf") < 0.2).alias("r_ok"),
            (F.col("doc_id") == F.min("doc_id").over(w_first)).alias("first_occ"),
        )
        .transform(pin)
    )
    tot = flags.agg(F.count(F.lit(1)).alias("n0"))

    def stage(name: str, cond) -> DataFrame:
        src = flags.filter(cond) if cond is not None else flags
        return src.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
        )

    stages = (
        stage("0_raw", None)
        .unionAll(stage("1_quality", F.col("q_ok")))
        .unionAll(stage("2_repetition", F.col("q_ok") & F.col("r_ok")))
        .unionAll(
            stage("3_dedup", F.col("q_ok") & F.col("r_ok") & F.col("first_occ"))
        )
    )
    return (
        stages.crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs") * 1.0 / F.col("n0"), 4).alias("frac_of_raw"),
        )
        .orderBy("stage")
    )


@query(
    "intra_doc_segment_dedup",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    segs AS (
        SELECT doc_id, CAST(t.i AS BIGINT) AS seg_idx,
               array_to_string(w[(t.i * 2 + 1):(t.i * 2 + 2)], ' ') AS seg
        FROM words,
             unnest(generate_series(0, CAST(CEIL(len(w) / 2.0) AS BIGINT) - 1))
                 AS t(i)),
    first_pos AS (
        SELECT doc_id, seg, MIN(seg_idx) AS keep_idx, COUNT(*) AS occs
        FROM segs GROUP BY doc_id, seg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS kept_segments,
           CAST(SUM(occs - 1) AS BIGINT) AS removed_segments,
           CAST(SUM(len(string_split(seg, ' '))) AS BIGINT) AS kept_words
    FROM first_pos
    GROUP BY doc_id
    HAVING SUM(occs - 1) > 0
    ORDER BY doc_id
    """,
)
def intra_doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-segment removal — the C4/MassiveText
    cleanup that deletes internally duplicated lines (nav bars, cookie
    banners repeated mid-page) while dedup_paragraph_exact handles the
    CROSS-document case. A 'line' in this newline-free, ~30-word-
    vocabulary corpus is a fixed 2-word segment (wider segments never
    repeat within a synthetic doc; at web scale the segment is a real
    newline-delimited line and the plan is unchanged); each doc keeps
    a segment's first occurrence
    and drops the rest. Output: per affected doc, kept/removed segment
    counts and surviving word count.

    Entirely map-side until the final per-doc aggregate: segmentation
    is an in-row HOF (no explode shuffle feeds another shuffle — the
    groupBy key is (doc_id, seg), partition-local combining absorbs
    intra-doc repeats before anything moves), so at 100 TB the shuffle
    carries one row per DISTINCT (doc, segment)."""
    # tokens projected before the segment HOF slices them (inlined
    # split would re-tokenize per segment — see functions/textfns.py)
    w = F.col("_w")
    nseg = F.ceil(F.size(w) / F.lit(2.0)).cast("bigint")
    segs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("_w"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), nseg - 1),
                    lambda i: F.struct(
                        i.cast("bigint").alias("seg_idx"),
                        F.concat_ws(" ", F.slice(w, i * 2 + 1, 2)).alias("seg"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.seg_idx", "s.seg")
    )
    first_pos = segs.groupBy("doc_id", "seg").agg(
        F.min("seg_idx").alias("keep_idx"), F.count(F.lit(1)).alias("occs")
    )
    return (
        first_pos.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_segments"),
            F.sum(F.col("occs") - 1).cast("bigint").alias("removed_segments"),
            F.sum(F.size(F.split(F.col("seg"), " "))).cast("bigint").alias("kept_words"),
        )
        .filter(F.col("removed_segments") > 0)
        .orderBy("doc_id")
    )
