"""Property tests for the rows-only (non-SQL-oracle) operators: the
guarantees the driver can't check are asserted here."""

from __future__ import annotations

from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR

DEFS = all_queries()


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_subset_of_exact_jaccard(spark):
    """LSH-verified pairs are exactly the exact-Jaccard pairs the bands
    recalled — a subset of the exhaustive result, at full precision.
    (Targets the production LSH leg directly; the registered query now
    emits the bounded certificate form.)"""
    from spark_streaming_practicum_spark.operators.dedup import _minhash_lsh_pairs

    exact = _pairs(DEFS["dedup_ngram_jaccard"].fn(spark, SF_DIR))
    lsh = _pairs(_minhash_lsh_pairs(spark, SF_DIR))
    assert lsh <= exact
    # bands of 4 rows at j>=0.8: P(miss) = (1-j^4)^4 <= 0.116 per pair;
    # require decent recall on this corpus
    if exact:
        assert len(lsh) / len(exact) >= 0.5


def test_pair_keyed_verifier_matches_corpus_pair_shape(spark):
    """`_jaccard_for_pairs` (round-7 array-intersect verifier) must agree
    with the reference shape it replaced — candidate-doc-pruned
    `_jaccard_pairs` post-intersected with the pair set — on pairs AND
    jaccard values. (The one sanctioned divergence, full-corpus vs
    pruned df for the hot-shingle cap, cannot show on a corpus with no
    hot shingles; sf0.001/0.01 have none at JACCARD_DF_CAP=64.)"""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.operators.dedup import (
        JACCARD_DF_CAP,
        _doc_shingles,
        _jaccard_for_pairs,
        _jaccard_pairs,
        _simhash_candidates,
    )

    from spark_streaming_practicum_spark.functions.pins import pin

    # one build; the ref and new paths consume it 3x
    cand = pin(_simhash_candidates(spark, SF_DIR).select("doc_a", "doc_b"), eager=True)
    sh = _doc_shingles(spark, SF_DIR)
    cd = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ref = cand.join(
        _jaccard_pairs(
            sh.join(F.broadcast(cd), "doc_id", "left_semi"),
            threshold=0.8,
            join_df_cap=JACCARD_DF_CAP,
        ),
        ["doc_a", "doc_b"],
    )
    new = _jaccard_for_pairs(
        spark, SF_DIR, cand, threshold=0.8, join_df_cap=JACCARD_DF_CAP
    )
    ref_rows = sorted(map(tuple, ref.select("doc_a", "doc_b", "jaccard").collect()))
    new_rows = sorted(map(tuple, new.select("doc_a", "doc_b", "jaccard").collect()))
    assert ref_rows == new_rows
    assert ref_rows  # non-vacuous: the sf0.001 corpus has true near-dups


def test_hot_shingle_df_cap_semantics_on_synthetic_boilerplate(spark, tmp_path):
    """The df-cap paths are vacuous on sf0.001/sf0.01 (no shingle there
    exceeds JACCARD_DF_CAP=64), so this synthetic corpus plants one
    boilerplate shingle in every doc and runs BOTH verifiers with a cap
    the boilerplate exceeds (round-7 advice). Pins the three df-cap
    guarantees:

    1. a pair whose overlap is EXCLUSIVELY hot is never emitted
       (candidate gen in _jaccard_pairs; the _cold_shared>=1 filter in
       _jaccard_for_pairs) even when its Jaccard clears the threshold;
    2. a pair with >=1 cold shared shingle IS emitted;
    3. its Jaccard value counts the FULL intersection including the hot
       shingle (the add-back arithmetic)."""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.operators.dedup import (
        _jaccard_for_pairs,
        _jaccard_pairs,
        _doc_shingles,
    )

    docs = [
        # docs 1-2: share the hot shingle + 3 cold shingles
        (1, "the boiler plate alpha beta gamma delta"),
        (2, "the boiler plate alpha beta gamma epsilon"),
        # docs 3-5: pairwise overlap is ONLY the hot shingle
        (3, "the boiler plate zeta eta theta"),
        (4, "the boiler plate iota kappa lambda"),
        (5, "the boiler plate mu nu xi"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)
    cap = 2  # df("the boiler plate") = 5 > 2 -> hot; every other df <= 2

    # corpus-pair verifier: candidate join excludes hot, add-back restores
    # the intersection count. Threshold 0.1 admits the purely-hot (3,4)
    # pair on VALUE (J = 1/7 ≈ 0.143) — only the cap may exclude it.
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _jaccard_pairs(
            _doc_shingles(spark, sf_dir), threshold=0.1, join_df_cap=cap
        ).collect()
    }
    # docs 1,2: 5 shingles each, full intersection 4 (incl. hot) -> 4/6
    assert got == {(1, 2): 0.6667}

    # pair-keyed verifier over ALL 10 pairs: same single survivor, same
    # full-intersection value; the hot-add-back/_cold_shared legs agree.
    all_pairs = spark.createDataFrame(
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],
        "doc_a long, doc_b long",
    )
    got_pk = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _jaccard_for_pairs(
            spark, sf_dir, all_pairs, threshold=0.1, join_df_cap=cap
        ).collect()
    }
    assert got_pk == {(1, 2): 0.6667}


def test_simhash_pairs_are_near_duplicates(spark):
    """SimHash-blocked candidates at Hamming<=6 should be dominated by
    the known near-dup clusters (jaccard overlap). (Targets the banded
    signature leg directly; the registered query now emits the bounded
    certificate form.)"""
    from spark_streaming_practicum_spark.operators.dedup import _simhash_candidates

    sim = _pairs(_simhash_candidates(spark, SF_DIR))
    exact = _pairs(DEFS["dedup_ngram_jaccard"].fn(spark, SF_DIR))
    if exact:
        # every exact near-dup pair should collide in simhash space
        assert len(exact & sim) / len(exact) >= 0.5


def test_lsh_ann_results_among_exact_topk_pool(spark):
    """Bucketed ANN returns vectors whose exact cosine matches the
    brute-force ranking for those vec_ids (same scoring fn)."""
    exact = {r.vec_id: r.cosine for r in DEFS["sim_cosine_topk"].fn(spark, SF_DIR).collect()}
    ann = DEFS["sim_ann_lsh_bucketed"].fn(spark, SF_DIR).collect()
    assert len(ann) > 0
    for r in ann:
        if r.vec_id in exact:
            assert abs(exact[r.vec_id] - r.cosine) < 1e-9


def test_multiprobe_hamming_ball_semantics():
    """MULTIPROBE_HAMMING is a true Hamming-ball radius (round-11
    ADVICE: any value >= 2 used to silently behave as 1). Pins the
    ball sizes (1 + C(8,1) + C(8,2) = 37 at radius 2 over 8 bits),
    membership, and that the default radius-1 list is byte-identical
    to the legacy [center, center^1, center^2, ...] probe ring."""
    from spark_streaming_practicum_spark.operators.similarity import (
        N_HYPERPLANES,
        _hamming_ball,
    )

    center = 0b10110010
    assert _hamming_ball(center, 0, 8) == [center]
    r1 = _hamming_ball(center, 1, 8)
    assert r1 == [center] + [center ^ (1 << i) for i in range(8)]  # legacy ring
    r2 = _hamming_ball(center, 2, 8)
    assert len(r2) == 1 + 8 + 28 and len(set(r2)) == 37
    assert all(bin(b ^ center).count("1") <= 2 for b in r2)
    assert any(bin(b ^ center).count("1") == 2 for b in r2)  # radius 2 is real
    assert N_HYPERPLANES == 8  # ball sizes above assume the 8-bit code


def test_pandas_topk_equals_hof_topk(spark):
    """The Arrow/numpy top-k path returns the same ranking as the
    JVM higher-order-function path."""
    hof = [(r.vec_id, r.cosine) for r in DEFS["sim_cosine_topk"].fn(spark, SF_DIR).collect()]
    pdk = [
        (r.vec_id, r.cosine)
        for r in DEFS["sim_cosine_topk_pandas"].fn(spark, SF_DIR).collect()
    ]
    assert hof == pdk


def test_stream_dedup_count_equals_exact_distinct(spark):
    """dropDuplicatesWithinWatermark with watermark > data span keeps
    exactly one row per key."""
    n_stream = DEFS["stream_dedup_within_watermark"].fn(spark, SF_DIR).count()
    n_exact = DEFS["dedup_keep_first_ts"].fn(spark, SF_DIR).count()
    assert n_stream == n_exact


def test_stream_dedup_certificate_is_falsifiable(spark):
    """The round-9 kept_from_input certificate must be able to FAIL: a
    survivor row whose (event_id, ts) pair is not in the input for its
    key must certify false. Exercises the SAME `_containment_certificate`
    the production query calls (no private re-implementation) on a kept
    frame with one forged row."""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.catalog import table
    from spark_streaming_practicum_spark.operators.streaming_equiv import (
        _containment_certificate,
    )

    cols = ["user_id", "event_type", "event_id", "ts"]
    real = (
        table(spark, SF_DIR, "events")
        .select(*cols)
        .orderBy("event_id")
        .limit(3)
    )
    forged = real.limit(1).withColumn("event_id", F.lit(-999_999_999)).withColumn(
        "user_id", F.lit(-1)
    )
    kept = real.union(forged)
    candidates = table(spark, SF_DIR, "events").select(*cols)
    cert = _containment_certificate(kept, candidates)
    rows = cert.collect()
    flags = [r.kept_from_input for r in rows]
    assert len(flags) == 4 and sum(flags) == 3
    forged_flag = [r.kept_from_input for r in rows if r.user_id == -1]
    assert forged_flag == [False]


def test_approx_count_distinct_within_rsd(spark):
    """HLL++ estimate within advertised error of the exact count: the
    query now emits the certified invariant directly (exact count + a
    within-bound boolean), so the property is asserting every row's flag
    and cross-checking the exact counts against agg_count_distinct."""
    rows = DEFS["agg_approx_count_distinct"].fn(spark, SF_DIR).collect()
    assert rows and all(r.within_3rsd for r in rows)
    exact = {
        r.l_returnflag: r.n_parts
        for r in DEFS["agg_count_distinct"].fn(spark, SF_DIR).collect()
    }
    for r in rows:
        assert r.n_exact == exact[r.l_returnflag]


def test_ivf_ann_scores_agree_with_exact(spark):
    """IVF-returned cosines must equal the exact scorer's for the same
    vec_ids, and the probe should achieve reasonable recall@20."""
    exact = {r.vec_id: r.cosine for r in DEFS["sim_cosine_topk"].fn(spark, SF_DIR).collect()}
    ivf = DEFS["sim_ann_ivf"].fn(spark, SF_DIR).collect()
    assert len(ivf) > 0
    for r in ivf:
        if r.vec_id in exact:
            assert abs(exact[r.vec_id] - r.cosine) < 1e-9
    recall = len({r.vec_id for r in ivf} & set(exact)) / len(exact)
    # these corpora are near-uniform random vectors — the worst case for
    # ANN (true neighbors scatter across lists); on clustered real
    # embeddings recall at nprobe=2/8 is far higher
    assert recall >= 0.1


def test_count_min_sketch_bounds(spark):
    """CMS estimates are >= exact counts and within the eps*N bound —
    both now certified in-query as boolean columns."""
    rows = DEFS["sketch_count_min"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r.never_undercounts for r in rows)
    assert all(r.within_eps_bound for r in rows)
    from spark_streaming_practicum_spark.catalog import table

    exact = {
        r.event_type: r.n
        for r in table(spark, SF_DIR, "events").groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    for r in rows:
        assert r.n_exact == exact[r.event_type]


def test_asof_implementations_agree(spark):
    """Window-based and cogrouped-pandas as-of joins return identical
    (purchase, last_click_ts) assignments."""
    a = {
        (r.purchase_id, r.last_click_ts)
        for r in DEFS["asof_join_last_click"].fn(spark, SF_DIR).collect()
    }
    b = {
        (r.purchase_id, r.last_click_ts)
        for r in DEFS["asof_join_cogroup_pandas"].fn(spark, SF_DIR).collect()
    }
    assert a == b


def test_prefix_filter_equals_plain_jaccard(spark):
    """The AllPairs prefix-filtered join must return EXACTLY the plain
    shingle-join pairs (the filter is lossless by the prefix lemma)."""
    plain = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DEFS["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in DEFS["dedup_jaccard_prefix_filter"].fn(spark, SF_DIR).collect()
    }
    assert plain == pref


def test_chunking_covers_every_token(spark):
    """Gapless coverage: chunk starts stride 24 (< window 32, so no gap
    is possible), the last chunk ends exactly at n_tokens, and the chunk
    count is floor((n-1)/24) + 1 for every doc."""
    from pyspark.sql import functions as F

    chunks = DEFS["text_chunk_fixed_tokens"].fn(spark, SF_DIR)
    per_doc = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_id") * 24 + F.col("n_chunk_tokens")).alias("max_end"),
        F.count(F.lit(1)).alias("k"),
    )
    toks = DEFS["text_token_count"].fn(spark, SF_DIR).select("doc_id", "n_tokens")
    joined = per_doc.join(toks, "doc_id")
    bad_end = joined.filter(F.col("max_end") != F.col("n_tokens")).count()
    bad_k = joined.filter(
        F.col("k") != F.floor((F.col("n_tokens") - 1) / 24) + 1
    ).count()
    assert bad_end == 0 and bad_k == 0


def test_split_proportions_and_determinism(spark):
    """80/10/10 split: proportions within 6 points of nominal at this
    corpus size, and re-running yields the identical assignment."""
    rows1 = {r.doc_id: r.split for r in DEFS["split_train_val_test"].fn(spark, SF_DIR).collect()}
    rows2 = {r.doc_id: r.split for r in DEFS["split_train_val_test"].fn(spark, SF_DIR).collect()}
    assert rows1 == rows2
    n = len(rows1)
    from collections import Counter

    c = Counter(rows1.values())
    assert abs(c["train"] / n - 0.80) < 0.06, c
    assert abs(c["val"] / n - 0.10) < 0.06, c
    assert abs(c["test"] / n - 0.10) < 0.06, c


def test_quantization_roundtrip_error_bound(spark):
    """Dequantized values must be within scale/2 = (max-min)/510 of the
    originals — the defining property of round-to-nearest scalar
    quantization (checked exactly, per element, in one pass)."""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.catalog import table

    e = table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    s = e.select(
        "vec_id",
        "emb",
        F.array_min("emb").alias("mn"),
        ((F.array_max("emb") - F.array_min("emb")) / 255).alias("scale"),
    ).filter(F.col("scale") > 0)
    err = F.aggregate(
        F.transform(
            "emb",
            lambda x: F.abs(
                (F.round((x - F.col("mn")) / F.col("scale")) * F.col("scale") + F.col("mn")) - x
            ),
        ),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    worst = s.select(F.max(err / F.col("scale")).alias("w")).collect()[0]["w"]
    assert worst <= 0.5 + 1e-9, worst


def test_hll_sketch_estimates_track_exact_counts(spark):
    """HLL estimates (lgK=14) must sit within the published DataSketches
    error envelope of the exact distinct counts — and the merged
    '__all__' sketch must equal re-sketching the raw union (merge
    loses nothing)."""
    from pyspark.sql import functions as F

    rows = DEFS["agg_hll_partitioned_merge"].fn(spark, SF_DIR).collect()
    by_type = {r["event_type"]: r for r in rows}
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact_all = e.select(F.count_distinct("user_id")).first()[0]
    exact_per = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n")).collect()
    }
    assert set(by_type) == set(exact_per) | {"__all__"}
    assert all(r["within_bound"] for r in rows)
    for etype, exact in exact_per.items():
        assert by_type[etype]["n_exact"] == exact
    assert by_type["__all__"]["n_exact"] == exact_all


def test_rolling_wau_envelope_and_bounds(spark):
    """Rolling 7-day WAU from merged HLL sketches: estimate inside the
    error envelope every day, and exact WAU always >= that day's DAU."""
    rows = DEFS["rolling_wau_hll"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r["within_bound"] for r in rows)
    assert all(r["wau_exact"] >= r["dau"] for r in rows)


def test_jl_projection_norms_concentrate(spark):
    """JL lemma in action: 64d -> 16d Rademacher projection preserves
    norms in expectation — ratios center on 1 and rarely stray far."""
    rows = DEFS["jl_random_projection"].fn(spark, SF_DIR).collect()
    ratios = [r["norm_ratio"] for r in rows]
    mean = sum(ratios) / len(ratios)
    assert 0.7 < mean < 1.25, mean
    frac_in_band = sum(1 for x in ratios if 0.4 <= x <= 1.8) / len(ratios)
    assert frac_in_band > 0.85, frac_in_band


def test_hbos_scores_sorted_and_nonnegative(spark):
    """HBOS: top-20 by score, scores are -log10 of bin shares <= 1 so
    every score is >= 0; vbin/hour stay inside their histogram ranges."""
    rows = DEFS["hbos_outlier_score"].fn(spark, SF_DIR).collect()
    assert len(rows) == 20
    scores = [r["hbos_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)
    assert all(0 <= r["vbin"] <= 9 and 0 <= r["h"] <= 23 for r in rows)


def test_statistics_family_mathematical_invariants(spark):
    """Cheap but unforgiving bounds for the hypothesis-testing /
    evaluation family: every statistic must respect its mathematical
    range regardless of data. A violated bound means broken arithmetic
    even when the oracle (which shares the formulas) agrees."""
    auc = DEFS["eval_auc_exact"].fn(spark, SF_DIR).first()
    assert 0.0 <= auc["auc"] <= 1.0
    rho = DEFS["spearman_rank_correlation"].fn(spark, SF_DIR).first()
    assert -1.0 <= rho["spearman_rho"] <= 1.0
    kw = DEFS["kruskal_wallis_h"].fn(spark, SF_DIR).first()
    assert kw["h_uncorrected"] >= 0 and kw["h_tie_corrected"] >= kw["h_uncorrected"]
    f = DEFS["anova_oneway_f"].fn(spark, SF_DIR).first()
    assert f["f_stat"] >= 0
    ece = DEFS["eval_expected_calibration_error"].fn(spark, SF_DIR).first()
    assert 0.0 <= ece["ece"] <= ece["mce"] <= 1.0
    f1 = DEFS["eval_macro_f1"].fn(spark, SF_DIR).first()
    assert 0.0 <= f1["macro_f1"] <= 1.0
    assert abs(
        f1["macro_f1"] - (f1["f1_pos"] + f1["f1_neg"]) / 2
    ) < 1e-5
    chi = DEFS["chi2_independence_test"].fn(spark, SF_DIR).first()
    assert chi["chi2"] >= 0 and chi["dof"] >= 1


def test_kcenter_radius_curve_monotone(spark):
    """Greedy k-center: adding a center can never INCREASE the covering
    radius — the radius curve must be non-increasing in k."""
    rows = sorted(
        DEFS["coreset_kcenter_greedy"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["k"],
    )
    radii = [r["covering_radius"] for r in rows]
    assert len(radii) == 3
    assert radii[0] >= radii[1] >= radii[2]


def test_attrition_funnel_monotone(spark):
    """Each curation gate can only remove documents: stage counts are
    non-increasing down the funnel, and fractions start at 1."""
    rows = sorted(
        DEFS["curation_attrition_funnel"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["stage"],
    )
    assert rows[0]["frac_of_raw"] == 1.0
    docs = [r["n_docs"] for r in rows]
    assert docs == sorted(docs, reverse=True)
