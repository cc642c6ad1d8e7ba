"""Benchmark entry point; run it from the repository root:

    python3 e2e_bench/run.py --workload query_single_pass --seed 1 --seconds 12 --trace 0

Each run is a fresh process: it generates its inputs from ``--seed``,
starts a session, warms up, runs the workload's timed pass once and
checks every output. With ``--trace 0`` the last stdout line carries
the end-to-end metrics named in BENCHMARK.json; with ``--trace 1`` it
carries the per-layer metrics, read from Spark's public hooks around
the same calls. The exit code is non-zero when any output is wrong.

All scratch files stay under ``.e2e_bench_work/`` (removed at exit) and
one JSON record per run, with its host block and spans, is written to
``.e2e_bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("query_single_pass", "ingest_backfill")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="nominal timed-pass length")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(work: Path) -> None:
    """Pin the core count to this host's and keep every scratch write
    (Spark local dirs, JVM and Python temp files) inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def _session_factory(work: Path):
    def build():
        from spark_streaming_practicum_spark.session import build_session

        return build_session(
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"}
        )

    return build


def _stop_spark() -> None:
    """Stop the session, if one started, and wait for its JVM (and the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metrics(spec: list[dict], values: dict) -> dict:
    """Every metric the spec names, in its unit. A per-layer metric the
    workload does not exercise reads 0 (e.g. sink writes in a query run)."""
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    args = _parse(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "spark_streaming_practicum_spark").is_dir():
        print("e2e_bench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, str(ROOT))
    work = ROOT / ".e2e_bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)

    from probes import host_block

    factory = _session_factory(work)
    try:
        if args.workload == "query_single_pass":
            import datagen
            import query_workload

            for sf in (query_workload.TIMED_SF, query_workload.WARMUP_SF):
                datagen.write_tables(work / "data" / f"sf{sf}", sf, args.seed)
            out = query_workload.run(factory, work / "data", bool(args.trace))
        else:
            import ingest_workload

            out = ingest_workload.run(factory, work, args.seed, args.seconds, bool(args.trace))
        host = host_block(out["spark"], out["cpu_start"], ROOT)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    failed = len(out["failures"])
    correct = failed == 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "correct": correct,
        "failures": out["failures"],
        "end_to_end": out["end_to_end"],
        "per_layer": out.get("per_layer"),
        "per_query": out.get("per_query"),
        "summary": out.get("summary"),
        "spans": out["spans"].to_json() if "spans" in out else None,
    }
    out_dir = ROOT / ".e2e_bench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    print("host " + json.dumps(host))
    print("summary " + json.dumps(out["summary"], default=str))
    for name, why in out["failures"].items():
        print(f"FAILED {name}: {why}")
    values = out["per_layer"] if args.trace else out["end_to_end"]
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": failed,
        "metrics": _metrics(section, values),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
