"""Plan + property assertions for the late-round-2 additions (robust
stats, stump learning, product quantization, containment dedup)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from spark_streaming_practicum_spark.plans import (
    broadcast_join_count,
    formatted_plan,
)
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, build_with_pinned_plans

DEFS = all_queries()


def test_mad_medians_broadcast_back(spark):
    """Both median frames (5 rows each) must ride broadcasts — the raw
    events table is never shuffled on a per-row key."""
    df = DEFS["median_mad_outliers"].fn(spark, SF_DIR)
    assert broadcast_join_count(df) >= 2, formatted_plan(df)[:3000]


def test_benford_shares_sum_to_one(spark):
    rows = DEFS["benford_first_digit"].fn(spark, SF_DIR).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-4
    # Benford expectation itself sums to 1 across digits 1..9
    assert abs(sum(r["benford_share"] for r in rows) - 1.0) < 1e-4


def test_stump_gain_nonnegative_and_single_scan_binning(spark):
    """Information gain of any split is >= 0, and the binning pass must
    not re-scan events once per threshold (the histogram trick)."""
    df = DEFS["decision_stump_info_gain"].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 9
    assert all(r["gain"] >= 0 for r in rows)
    assert all(r["n_left"] + r["n_right"] == rows[0]["n_left"] + rows[0]["n_right"] for r in rows)
    plan = formatted_plan(df)
    n_event_scans = len(
        re.findall(r"^\(\d+\) Scan parquet .*events", plan, flags=re.M)
    )
    # one scan feeds the bin histogram, one the global totals — never 9
    assert n_event_scans <= 2, plan[:3000]


def test_pq_codebook_covers_all_cells_and_broadcasts(spark):
    """Assignment joins must broadcast the 16-row codebooks; every
    (subspace, code) cell is non-empty on the test corpus and cell
    counts per subspace sum to the corpus size."""
    df = DEFS["embedding_pq_codebook"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 2, plan[:3000]
    assert "CartesianProduct" not in plan
    rows = df.collect()
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r["subspace"], 0)
        by_sub[r["subspace"]] += r["n_vecs"]
        assert r["avg_sq_error"] >= 0
    assert set(by_sub) == {0, 1, 2, 3}
    assert all(v == n for v in by_sub.values())


def test_containment_at_least_jaccard_pairs(spark):
    """Overlap coefficient >= Jaccard, so every Jaccard-0.8 pair must
    also appear in the containment-0.8 output."""
    cont = {
        (r["doc_a"], r["doc_b"])
        for r in DEFS["dedup_containment_overlap"].fn(spark, SF_DIR).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in DEFS["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    }
    assert jac <= cont


def test_kappa_bounds(spark):
    row = DEFS["eval_cohens_kappa"].fn(spark, SF_DIR).collect()[0]
    assert -1.0 <= row["kappa"] <= 1.0
    assert 0.0 <= row["po"] <= 1.0
    assert 0.0 <= row["pe"] <= 1.0


def test_seasonal_components_reassemble(spark):
    """trend + seasonal + residual must reconstruct the observed count."""
    rows = DEFS["ts_seasonal_decompose_dow"].fn(spark, SF_DIR).collect()
    assert rows, "decomposition produced no interior days"
    for r in rows:
        assert abs((r["trend"] + r["seasonal"] + r["residual"]) - r["n"]) < 1e-4


def test_funnel_levels_partition_users(spark):
    rows = DEFS["window_funnel_within_time"].fn(spark, SF_DIR).collect()
    assert {r["level"] for r in rows} <= {0, 1, 2, 3}
    n_users = (
        DEFS["dedup_exact"].fn(spark, SF_DIR).sparkSession.read.parquet(
            f"{SF_DIR}/events.parquet"
        )
        is not None
    )
    total = sum(r["n_users"] for r in rows)
    from spark_streaming_practicum_spark.catalog import table

    expected = table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert total == expected


def test_paths_top10_and_positive(spark):
    rows = DEFS["path_top_sequences"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    assert all(r["n_users"] > 0 for r in rows)
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_bootstrap_ci_brackets_mean(spark):
    r = DEFS["poisson_bootstrap_ci"].fn(spark, SF_DIR).collect()[0]
    assert r["ci_lo"] <= r["ci_hi"]
    assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]
    assert r["n_replicates"] == 50


def test_seq_pattern_support_bounds(spark):
    rows = DEFS["seq_pattern_followed_by"].fn(spark, SF_DIR).collect()
    assert all(0 < r["support"] <= 1 for r in rows)
    assert all(r["antecedent"] != r["consequent"] for r in rows)
    assert len(rows) <= 20  # 5x4 ordered type pairs


def test_lpa_labels_are_nation_keys(spark):
    rows = DEFS["graph_label_propagation"].fn(spark, SF_DIR).collect()
    assert len(rows) == 25
    assert all(0 <= r["community"] <= 24 for r in rows)


def test_attribution_linear_equals_last_touch_total(spark):
    """Linear credits are shares of one conversion each, so summed over
    all days they must equal the number of attributed conversions."""
    rows = DEFS["attribution_last_touch_linear"].fn(spark, SF_DIR).collect()
    assert rows
    linear = sum(r["linear_credit"] for r in rows)
    conversions = sum(r["last_touch_conversions"] for r in rows)
    assert abs(linear - conversions) < 1e-3


def test_diversity_effective_bounded_by_categories(spark):
    rows = DEFS["corpus_diversity_indices"].fn(spark, SF_DIR).collect()
    assert {r["dimension"] for r in rows} == {"lang", "source"}
    for r in rows:
        assert 0 <= r["simpson"] < 1
        assert r["effective_categories"] <= r["n_categories"] + 1e-6


def test_vocab_growth_monotone_and_totals(spark):
    rows = DEFS["vocab_growth_heaps"].fn(spark, SF_DIR).collect()
    cums = [r["cum_vocab"] for r in rows]
    assert cums == sorted(cums)
    from spark_streaming_practicum_spark.catalog import table
    from pyspark.sql import functions as FF

    vocab = (
        table(spark, SF_DIR, "documents")
        .select(FF.explode(FF.split("text", " ")).alias("t"))
        .distinct()
        .count()
    )
    assert cums[-1] == vocab


def test_rouge2_metric_ranges(spark):
    rows = DEFS["eval_rouge2_pairs"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert 0 <= r["rouge2_p"] <= 1
        assert 0 <= r["rouge2_r"] <= 1
        assert 0 <= r["rouge2_f1"] <= 1


def test_mmr_picks_are_distinct(spark):
    rows = DEFS["sim_mmr_diversified_topk"].fn(spark, SF_DIR).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    assert len({r["vec_id"] for r in rows}) == 5
    # round 1 has no diversity penalty: mmr == relevance
    assert rows[0]["mmr_score"] == rows[0]["relevance"]


def test_dataset_card_sanity(spark):
    r = DEFS["dataset_card_summary"].fn(spark, SF_DIR).collect()[0]
    assert r["n_docs"] > 0 and r["n_langs"] == 5
    assert 0 <= r["exact_dup_rate"] < 1
    assert 0 <= r["en_share"] <= 1
    plan = formatted_plan(DEFS["dataset_card_summary"].fn(spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)) == 1


def test_funnel_plan_no_cartesian(spark):
    plan = formatted_plan(DEFS["window_funnel_within_time"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_psi_terms_nonnegative(spark):
    """(q-p)ln(q/p) >= 0 pointwise — any negative term is a math bug."""
    rows = DEFS["drift_psi_value_distribution"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(r["psi_term"] >= 0 for r in rows)


def test_pr_curve_monotone_recall(spark):
    rows = DEFS["eval_pr_curve_points"].fn(spark, SF_DIR).collect()
    recalls = [r["recall"] for r in rows]  # ordered by ascending threshold
    assert recalls == sorted(recalls, reverse=True)
    assert all(0 <= r["precision"] <= 1 for r in rows)


def test_conformal_coverage_near_nominal(spark):
    r = DEFS["conformal_prediction_interval"].fn(spark, SF_DIR).collect()[0]
    assert r["interval_halfwidth"] > 0
    assert 0.82 <= r["coverage"] <= 0.98  # nominal 0.9 +- finite-sample slack


def test_shapley_abs_dominates_signed(spark):
    r = DEFS["explain_shapley_global_importance"].fn(spark, SF_DIR).collect()[0]
    assert abs(r["mean_shap_quantity"]) <= r["mean_abs_shap_quantity"] + 1e-9
    assert abs(r["mean_shap_discount"]) <= r["mean_abs_shap_discount"] + 1e-9


def test_brier_terms_sane(spark):
    r = DEFS["eval_brier_decomposition"].fn(spark, SF_DIR).collect()[0]
    assert 0 <= r["brier"] <= 1
    assert r["reliability"] >= 0 and r["resolution"] >= 0
    assert 0 <= r["uncertainty"] <= 0.25


def test_logrank_chi2_nonnegative(spark):
    r = DEFS["survival_logrank_test"].fn(spark, SF_DIR).collect()[0]
    assert r["logrank_chi2"] >= 0
    assert r["n_event_times"] > 0


def test_ips_effective_weight_near_one(spark):
    r = DEFS["ope_ips_estimate"].fn(spark, SF_DIR).collect()[0]
    assert 0.5 < r["effective_weight"] < 2.0
    assert r["snips_value"] > 0


def test_linkage_em_probabilities_bounded(spark):
    rows = DEFS["linkage_fellegi_sunter_em"].fn(spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        assert 0 <= r["m_new"] <= 1
        assert 0 <= r["u_new"] <= 1
        assert 0 <= r["prevalence"] <= 1


def test_knn_outlier_scores_descending(spark):
    rows = DEFS["embedding_knn_outlier_score"].fn(spark, SF_DIR).collect()
    scores = [r["knn_dist_avg"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 20


def test_kn_bigram_probabilities_valid(spark):
    rows = DEFS["lm_kneser_ney_bigrams"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(0 < r["p_kn"] <= 1 for r in rows)


def test_gini_and_zipf_shapes(spark):
    g = DEFS["revenue_gini_lorenz"].fn(spark, SF_DIR).collect()[0]
    assert 0 <= g["gini"] < 1
    assert g["top_decile_share"] >= 0.09
    z = DEFS["token_zipf_fit"].fn(spark, SF_DIR).collect()[0]
    assert z["zipf_slope"] < 0
    assert 0 <= z["r2"] <= 1


def test_maxsim_bounded_by_token_count(spark):
    rows = DEFS["sim_maxsim_late_interaction"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(-4.0 <= r["maxsim"] <= 4.0 for r in rows)


def test_item_item_cosine_bounded(spark):
    rows = DEFS["recsys_item_item_cosine"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5,2) ordered pairs
    assert all(0 <= r["cosine"] <= 1 for r in rows)


def test_equidepth_histogram_no_single_partition_window(spark):
    """histogram_equidepth must rank through the two-pass range-partition
    scheme — a bare ntile() window would funnel the whole events table
    through an Exchange SinglePartition."""
    _, plans = build_with_pinned_plans("histogram_equidepth", spark)
    for plan in plans:
        assert "SinglePartition" not in plan, plan[:3000]


def test_rfm_quartiles_no_single_partition_window(spark):
    """All three RFM quartile assignments rank distributed; no pass may
    move the customer rollup to one task."""
    _, plans = build_with_pinned_plans("rfm_customer_segments", spark)
    for plan in plans:
        assert "SinglePartition" not in plan, plan[:3000]


def test_shuffle_hash_hint_plans_shuffled_hash_join(spark):
    """The SHUFFLE_HASH hint must override the broadcast default."""
    df = DEFS["join_shuffle_hash_hint"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan[:3000]
