"""Closed-loop query workload: one client runs registered queries back to
back through ``QueryDef.fn(spark, sf_dir)`` and ``collect()``.

Each query is timed once per session. A second timing in the same
session would read warm caches that a first run never sees: the
program's dedup session memo turns a 25 s first call of
``dedup_minhash_lsh`` (sf0.1, fresh session) into a 0.6 s lookup.
Warm-up therefore runs the same list at a tiny scale factor, which loads
classes and JIT-compiles the engine without touching any sf-keyed cache
of the timed pass.
"""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path

import duckdb

from bench import _cpu_sample
from spark_streaming_practicum_spark.registry import all_queries

from probes import (
    CatalystListener,
    Spans,
    SparkCounters,
    cpu_delta,
    percentile,
    spark_layer,
    tree_cpu_s,
    uses_python_udf,
)

# Scan, join, text and Arrow-UDF queries with small results (1-160 rows,
# at most 13 jobs each); dedup_embedding_cosine crosses the pandas/Arrow
# boundary. The list is fixed so every commit measures the same work.
SINGLE_PASS = (
    "agg_pricing_summary",
    "join_q5_local_supplier",
    "text_bm25_topk",
    "dedup_embedding_cosine",
)
TIMED_SF, WARMUP_SF = 0.1, 0.001
ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings",
)


def _canon():
    """``canon`` from the driver-contract sweep script (not a package)."""
    path = Path(__file__).resolve().parent.parent / "scripts" / "driver_contract_sweep.py"
    spec = importlib.util.spec_from_file_location("driver_contract_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _sorted_rows(cols: list[str], rows, canon) -> list[tuple]:
    return sorted((tuple(canon(r[c]) for c in cols) for r in rows), key=repr)


def check_against_oracle(defs, results: dict[str, list], sf_dir: Path) -> dict[str, str]:
    """Compare each collected result with its DuckDB oracle; returns
    ``{query: reason}`` for every mismatch."""
    canon = _canon()
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')")
    failures = {}
    for name, rows in results.items():
        cur = con.execute(defs[name].oracle)
        o_names = [d[0] for d in cur.description]
        cols = sorted(o_names)
        o_rows = sorted(
            (tuple(canon(r[o_names.index(c)]) for c in cols) for r in cur.fetchall()), key=repr
        )
        s_cols = sorted(rows[0].asDict()) if rows else cols
        if s_cols != cols:
            failures[name] = f"columns {s_cols} vs oracle {cols}"
        elif _sorted_rows(cols, rows, canon) != o_rows:
            failures[name] = f"rows differ from oracle ({len(rows)} vs {len(o_rows)})"
    con.close()
    return failures


def run(spark_factory, data_dir: Path, trace: bool) -> dict:
    """Set up, warm up, run the timed pass once, then check results."""
    setup_start = time.perf_counter()
    spark = spark_factory()
    start_s = time.perf_counter() - setup_start
    defs = all_queries()
    timed_dir, warm_dir = data_dir / f"sf{TIMED_SF}", data_dir / f"sf{WARMUP_SF}"
    for name in SINGLE_PASS:
        defs[name].fn(spark, str(warm_dir)).collect()
    setup_s = time.perf_counter() - setup_start

    if trace:
        spans, counters, catalyst = Spans(), SparkCounters(spark), CatalystListener(spark)
        pass_mark = counters.mark()
        run_span = spans.add("run", time.time(), 0.0)
    cpu_start, tree_cpu0 = _cpu_sample(), tree_cpu_s()
    results, failures, per_query = {}, {}, {}
    for name in SINGLE_PASS:
        try:
            if trace:
                build_mark = counters.mark()
            wall0, t0 = time.time(), time.perf_counter()
            df = defs[name].fn(spark, str(timed_dir))
            build_s = time.perf_counter() - t0
            if trace:
                build_jobs = counters.mark() - build_mark
            t1 = time.perf_counter()
            rows = df.collect()
            exec_s = time.perf_counter() - t1
        except Exception as exc:  # a failing query is counted; the pass goes on
            failures[name] = f"{type(exc).__name__}: {exc}"
            continue
        results[name] = rows
        per_query[name] = {"build_s": build_s, "exec_s": exec_s, "rows": len(rows)}
        if trace:
            per_query[name].update(build_jobs=build_jobs, python_udf=uses_python_udf(df))
            qid = spans.add("query", wall0, wall0 + build_s + exec_s, run_span)
            spans.add("build", wall0, wall0 + build_s, qid)
            spans.add("exec", wall0 + build_s, wall0 + build_s + exec_s, qid)
    cpu = cpu_delta(tree_cpu0)
    latencies = [q["build_s"] + q["exec_s"] for q in per_query.values()]
    out = {
        "attempted": len(SINGLE_PASS),
        "end_to_end": {"setup_s": setup_s, "suite_cpu_s": cpu["total"]},
        "summary": {
            "suite_cpu_jit_s": cpu["jit"],
            "suite_s": sum(latencies),
            "query_latency_p50_s": percentile(latencies, 50) if latencies else None,
        },
        "per_query": per_query,
        "spark": spark,
        "cpu_start": cpu_start,
    }
    if trace:
        spans.spans[run_span].end = time.time()
        totals = counters.since(pass_mark)
        self_s = spans.self_times()
        out["spans"] = spans
        out["per_layer"] = {
            "session.start_s": start_s,
            "session.warmup_s": setup_s - start_s,
            "operators.build_s": self_s.get("build", 0.0),
            "operators.build_jobs": sum(q["build_jobs"] for q in per_query.values()),
            "spark.exec_s": self_s.get("exec", 0.0),
            "spark.exec_s.pandas_udf": sum(
                q["exec_s"] for q in per_query.values() if q["python_udf"]
            ),
            **spark_layer(totals, catalyst, counters),
            "spark.task_cpu_ms_per_1k_rows": 1e6 * totals["task_cpu_s"]
            / max(totals["input_records"], 1),
        }
    failures.update(check_against_oracle(defs, results, timed_dir))
    out["failures"] = failures
    return out

