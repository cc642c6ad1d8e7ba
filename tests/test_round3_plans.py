"""Plan + property assertions for the round-3 additions (stats family,
RLHF ops, intra-doc dedup, draft acceptance, chained streaming)."""

from __future__ import annotations

import re

from spark_streaming_practicum_spark.plans import (
    broadcast_join_count,
    formatted_plan,
)
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, build_with_pinned_plans

DEFS = all_queries()


def test_xicor_no_global_window_and_bounds(spark):
    """Every window partitions on the range-partition id (the two-pass
    distributed ranking — no per-group or single-partition WindowExec
    over the raw table), and xi lands in its [-0.5, 1] theoretical
    range with near-zero values for independent columns."""
    df, plans = build_with_pinned_plans("xicor_correlation", spark)
    for plan in plans:
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "_pid" in m.group(1), m.group(0)
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        assert -0.5 <= r["xi"] <= 1.0


def test_mann_kendall_pair_frame_is_bounded(spark):
    """The pairwise sign sum must join the BOUNDED monthly frame, never
    the raw orders table: the plan's join inputs are aggregates."""
    df = DEFS["mann_kendall_trend"].fn(spark, SF_DIR)
    row = df.first()
    # S is bounded by n(n-1)/2
    n = row["n_periods"]
    assert abs(row["s_stat"]) <= n * (n - 1) / 2
    assert row["verdict"] in ("increasing", "decreasing", "no_trend")


def test_bh_fdr_monotone_threshold(spark):
    """BH discoveries are a prefix of the p-ordered list, and every
    discovered p is <= every undiscovered p."""
    rows = DEFS["benjamini_hochberg_fdr"].fn(spark, SF_DIR).collect()
    flags = [r["discovered"] for r in rows]  # already ordered by bh_rank
    assert flags == sorted(flags, reverse=True), "discoveries not a prefix"
    ps = [r["p_chebyshev"] for r in rows]
    assert ps == sorted(ps)


def test_propensity_att_broadcasts_dim_and_weights(spark):
    """The part dim joins broadcast; the ATT equals the treated-count
    weighted mean of stratum effects."""
    df = DEFS["propensity_strata_att"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 1, formatted_plan(df)[:3000]
    rows = df.collect()
    att = rows[0]["att"]
    num = sum(r["n_treated"] * (r["mean_treated"] - r["mean_control"]) for r in rows)
    den = sum(r["n_treated"] for r in rows)
    assert abs(att - num / den) < 1e-2  # components are rounded at 4dp


def test_grpo_advantage_group_invariants(spark):
    """Per multi-member group: advantages average to ~0; singleton
    groups get exactly 0."""
    from pyspark.sql import functions as F

    df = DEFS["grpo_group_advantage"].fn(spark, SF_DIR)
    g = df.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("advantage").alias("mean_adv"),
        F.max(F.abs("advantage")).alias("max_abs"),
    )
    bad = g.filter(
        ((F.col("n") > 1) & (F.abs(F.col("mean_adv")) > 1e-4))
        | ((F.col("n") == 1) & (F.col("max_abs") > 0))
    ).count()
    assert bad == 0


def test_bradley_terry_strengths_centered(spark):
    """Wins are antisymmetric, so sum(w_i) = sum(n_i)/2 and the
    n-weighted mean strength is exactly 1."""
    rows = DEFS["bradley_terry_one_step"].fn(spark, SF_DIR).collect()
    total_w = sum(r["wins"] for r in rows)
    total_n = sum(r["comparisons"] for r in rows)
    assert total_n == 2 * total_w
    weighted = sum(r["bt_strength"] * r["comparisons"] for r in rows) / total_n
    assert abs(weighted - 1.0) < 1e-4


def test_draft_table_broadcast_and_rate_bounds(spark):
    """The bigram draft table joins as a HASH join build side (corpus
    never self-joins and is never sorted for a merge join): broadcast
    through round 11, hint-free AQE in round 12, and a SHUFFLE_HASH
    hint since round 13 (guide §3.1 — per-partition build bounded by
    |vocab|/P at any scale). Acceptance rates are valid fractions."""
    df, plans = build_with_pinned_plans("ngram_draft_acceptance_rate", spark)
    assert broadcast_join_count(df) >= 1 or "ShuffledHashJoin" in plans[0], plans[0][:3000]
    for plan in plans:
        assert "SortMergeJoin" not in plan, plan[:3000]
    rows = df.collect()
    assert rows, "no documents scored"
    for r in rows:
        assert 0 <= r["n_accepted"] <= r["n_positions"]
        assert abs(r["acceptance_rate"] - r["n_accepted"] / r["n_positions"]) < 1e-6


def test_intra_doc_dedup_conservation(spark):
    """kept + removed = total segments for every affected doc."""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.catalog import table

    df = DEFS["intra_doc_segment_dedup"].fn(spark, SF_DIR)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows, "2-word segments must repeat in this corpus"

    docs = (
        table(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            F.ceil(F.size(F.split("text", " ")) / F.lit(2.0)).cast("bigint").alias(
                "n_segs"
            ),
        )
        .collect()
    )
    total = {r["doc_id"]: r["n_segs"] for r in docs}
    for doc_id, r in rows.items():
        assert r["kept_segments"] + r["removed_segments"] == total[doc_id]
        assert r["removed_segments"] > 0


def test_curriculum_stages_balanced_and_no_global_window(spark):
    """NTILE(4) via the two-pass ranking: stage sizes differ by at most
    1, and no window in the plan runs unpartitioned (the single-
    partition NTILE this op exists to avoid)."""
    import re as _re

    from pyspark.sql import functions as F

    df, plans = build_with_pinned_plans("curriculum_perplexity_stages", spark)
    for plan in plans:
        for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "_pid" in m.group(1), m.group(0)
    sizes = [
        r["n"]
        for r in df.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert len(sizes) == 4
    assert max(sizes) - min(sizes) <= 1


def test_crosslingual_margin_suppresses_hubs(spark):
    """Margin scores are finite and positive; the pair frame joins its
    k-NN normalizers as broadcasts; and the mined list is exactly the
    requested top-N."""
    df = DEFS["crosslingual_margin_mining"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 2, formatted_plan(df)[:3000]
    rows = df.collect()
    assert len(rows) == 20
    margins = [r["margin"] for r in rows]
    assert margins == sorted(margins, reverse=True)
    assert all(m > 0 for m in margins)


def test_logsumexp_matches_naive_and_exceeds_max(spark):
    """Where the naive form is safe (values < 10), stable logsumexp must
    equal log(sum(exp(x))) and always sit in (vmax, vmax + log(n)]."""
    import math

    rows = DEFS["agg_group_logsumexp"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # values reach ~330, where naive exp() would overflow float64 —
        # and the lse collapses onto vmax at 6dp (the stable regime)
        assert r["vmax"] <= r["logsumexp"] <= r["vmax"] + math.log(r["n"]) + 1e-9
        assert r["log_mean_exp"] <= r["vmax"] + 1e-9


def test_ul2_mixture_shares_and_geometry(spark):
    """Hash routing approximates the 2:1:1 R/S/X paper mixture, and the
    per-objective geometry is internally consistent."""
    rows = DEFS["ul2_denoiser_mix"].fn(spark, SF_DIR).collect()
    n = len(rows)
    shares = {d: sum(1 for r in rows if r["denoiser"] == d) / n for d in "RSX"}
    assert 0.35 <= shares["R"] <= 0.65
    assert 0.10 <= shares["S"] <= 0.40
    assert 0.10 <= shares["X"] <= 0.40
    for r in rows:
        if r["denoiser"] == "S":
            assert r["n_spans"] == 0 and 0 < r["prefix_len"] < r["n_tokens"]
            assert abs(r["corrupt_frac"] - (r["n_tokens"] - r["prefix_len"]) / r["n_tokens"]) < 1e-3
        else:
            assert r["prefix_len"] == 0 and r["n_spans"] >= 1
            span = 3 if r["denoiser"] == "R" else 8
            assert abs(r["corrupt_frac"] - r["n_spans"] * span / r["n_tokens"]) < 1e-3


def test_crosslingual_gemm_never_shuffles_pair_matrix(spark):
    """The mined result must come from the two applyInPandas passes —
    the plan carries FlatMapGroupsInPandas and no BroadcastNestedLoopJoin
    pair product."""
    _, plans = build_with_pinned_plans("crosslingual_margin_mining", spark)
    assert plans[0].count("FlatMapGroupsInPandas") >= 2, plans[0][:3000]
    for plan in plans:
        assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
