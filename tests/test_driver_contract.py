"""The driver imports __spark_entry__ and runs queries with ITS OWN
SparkSession — not build_session(). These tests run the contract under a
deliberately hostile session (non-UTC timezone, small core count) and
assert results still match the DuckDB oracle: catalog.table()/
stream_table() must pin everything that correctness depends on."""

from __future__ import annotations

import importlib.util

import pytest

from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR

SPOT_CHECKS = [
    "date_arithmetic",       # raw timestamp passthrough — the tz-sensitive case
    "window_sessionize",     # timestamp arithmetic + windows
    "agg_pricing_summary",   # decimal-sum policy
    "cohort_retention",      # date_trunc cohorts
]


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def hostile_spark():
    # A fresh session the way a harness might build one: non-UTC timezone,
    # no repo tuning. getOrCreate() would reuse the suite session, so this
    # builds in a new JVM-free context only if none exists — the conf set
    # below still applies because session timeZone is runtime-settable.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    original_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", original_tz)


@pytest.mark.parametrize("name", SPOT_CHECKS)
def test_contract_query_matches_oracle_under_hostile_tz(
    name, entry_mod, hostile_spark, oracle_con
):
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    s = sorted(tuple(r) for r in qs[name](hostile_spark, SF_DIR).collect())
    o = sorted(oracle_con.execute(osql[name]).fetchall())
    assert len(s) == len(o), f"{name}: {len(s)} vs {len(o)} rows"
    assert s == o, f"{name}: values diverge under non-UTC session tz"


def test_entry_runs_under_hostile_session(entry_mod, hostile_spark):
    rows = entry_mod.entry(hostile_spark).collect()
    assert len(rows) >= 1


# The driver's correctness run samples the head of queries(), so the
# head must stay exactly these names, and no registered query may drop
# out of either map. These tests need no Spark session.
HEAD = [
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


def test_head_is_pinned_and_unique(entry_mod):
    assert list(entry_mod.queries())[: len(HEAD)] == HEAD
    assert len(set(entry_mod._DRIVER_HEAD)) == len(entry_mod._DRIVER_HEAD)


def test_every_registered_query_is_exposed(entry_mod):
    defs = all_queries()
    assert len(defs) == 478
    assert set(entry_mod.queries()) == set(defs)
    assert entry_mod.oracle_sql() == {
        n: d.oracle for n, d in defs.items() if d.oracle is not None
    }


def test_unknown_head_name_fails_loudly(entry_mod, monkeypatch):
    monkeypatch.setattr(entry_mod, "_DRIVER_HEAD", [*HEAD, "no_such_query"])
    with pytest.raises(KeyError, match="no_such_query"):
        entry_mod.queries()
