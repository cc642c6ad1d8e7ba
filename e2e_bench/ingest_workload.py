"""Backfill ingest workload: the generator lands a backlog of batch files
before timing starts; ``StreamProcessor.start`` over
``text_file_stream`` drains it with ``availableNow`` and a fixed
``maxFilesPerTrigger`` into two ``ParquetSink``s.

Large micro-batches make per-event parsing, routing and the bronze
write the bottleneck, so the drain measures capacity. The check then
requires every generated row to land exactly once, in the sink and
under the reason the benchmark's own classifier predicts.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter
from pathlib import Path

import duckdb
from pyspark.sql.streaming import StreamingQueryListener

from bench import _cpu_sample
from spark_streaming_practicum_spark.consumer_cli import EVENT_SCHEMA
from spark_streaming_practicum_spark.sources.streaming import text_file_stream
from spark_streaming_practicum_spark.streaming.processor import StreamProcessor
from spark_streaming_practicum_spark.streaming.sinks import ParquetSink

from datagen import CORRUPTED, EXTRA, INVALID, VALID, EventBatches, canonical_record
from probes import (
    CatalystListener,
    Spans,
    SparkCounters,
    TimedSink,
    commit_times,
    cpu_delta,
    file_latencies,
    highest_supported_percentile,
    percentile,
    spark_layer,
    tree_cpu_s,
)

EVENTS_PER_FILE = 1000
FILES_PER_SECOND = 6  # backlog files per second of --seconds
MAX_FILES_PER_TRIGGER = 16
WARMUP_FILES = 32


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event in memory."""

    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):  # noqa: N802 (listener interface)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.progress.append(event.progress)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _drain(spark, sinks, in_dir: Path, checkpoint: Path):
    processor = StreamProcessor(
        schema=EVENT_SCHEMA,
        valid_sink=sinks[0],
        dead_letter_sink=sinks[1],
        checkpoint_location=str(checkpoint),
    )
    stream = text_file_stream(spark, str(in_dir), max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    query = processor.start(stream, available_now=True)
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    return query


def _land(batches: EventBatches, work: Path, name: str, n_files: int) -> Path:
    in_dir, staging = work / name, work / f"{name}.staging"
    in_dir.mkdir(parents=True)
    staging.mkdir()
    for i in range(n_files):
        batches.land(in_dir, staging, f"batch-{i:05d}.json")
    return in_dir


def sink_rows(bronze: Path, dead: Path) -> Counter:
    """``(reason, key)`` multiset actually landed in the two sinks."""
    con = duckdb.connect()
    got: Counter = Counter()
    for (event_id,) in con.execute(
        f"SELECT event_id FROM read_parquet('{bronze}/*.parquet')"
    ).fetchall():
        got[(VALID, event_id)] += 1
    for reason, raw in con.execute(
        f"SELECT _dead_letter_reason, _raw_record FROM read_parquet('{dead}/*.parquet')"
    ).fetchall():
        key = raw if reason == CORRUPTED else canonical_record(json.loads(raw))
        got[(reason, key)] += 1
    con.close()
    return got


def failed_files(files: dict[str, list], expected: Counter, got: Counter) -> set[str]:
    """Files holding any row whose landed count differs from the expected
    count: a row missing from the sinks, or present more than once."""
    wrong = {k for k in expected.keys() | got.keys() if expected[k] != got[k]}
    return {name for name, rows in files.items() if wrong.intersection(rows)}


def run(spark_factory, work: Path, seed: int, seconds: int, trace: bool) -> dict:
    warm_in = _land(
        EventBatches(seed=seed + 1000, batch_size=EVENTS_PER_FILE), work, "warm_in", WARMUP_FILES
    )
    batches = EventBatches(seed=seed, batch_size=EVENTS_PER_FILE)
    in_dir = _land(batches, work, "in", FILES_PER_SECOND * seconds)

    setup_start = time.perf_counter()
    spark = spark_factory()
    start_s = time.perf_counter() - setup_start
    warm_sinks = (ParquetSink(str(work / "warm_bronze")), ParquetSink(str(work / "warm_dead")))
    _drain(spark, warm_sinks, warm_in, work / "warm_ckpt")
    setup_s = time.perf_counter() - setup_start

    bronze, dead, checkpoint = work / "bronze", work / "dead", work / "ckpt"
    sinks = (ParquetSink(str(bronze)), ParquetSink(str(dead)))
    if trace:
        sinks = tuple(TimedSink(s) for s in sinks)
        counters, catalyst, progress = SparkCounters(spark), CatalystListener(spark), ProgressLog()
        spark.streams.addListener(progress)
        mark = counters.mark()
    cpu_start, tree_cpu0 = _cpu_sample(), tree_cpu_s()
    due = time.time()
    t0 = time.perf_counter()
    query = _drain(spark, sinks, in_dir, checkpoint)
    suite_s = time.perf_counter() - t0
    cpu = cpu_delta(tree_cpu0)

    expected, got = batches.expected(), sink_rows(bronze, dead)
    failed = failed_files(batches.files, expected, got)
    latencies = file_latencies(checkpoint, dict.fromkeys(batches.files, due))
    failed |= batches.files.keys() - latencies.keys()  # never committed
    landed = sum(got.values())
    out = {
        "attempted": len(batches.files),
        "end_to_end": {"setup_s": setup_s, "suite_cpu_s": cpu["total"]},
        "failures": {name: "rows missing or duplicated in the sinks" for name in sorted(failed)},
        "summary": {
            "suite_cpu_jit_s": cpu["jit"],
            "suite_s": suite_s,
            "events_landed": landed,
            "ingest_events_per_s": landed / suite_s,
            "micro_batches": len(commit_times(checkpoint)),
            "file_latency_p50_s": percentile(list(latencies.values()), 50),
            "file_latency_highest_supported": highest_supported_percentile(
                list(latencies.values())
            ),
        },
        "spark": spark,
        "cpu_start": cpu_start,
    }
    if trace:
        totals = counters.since(mark)  # also waits for every progress event
        rows = [p for p in progress.progress if str(p.id) == str(query.id)]
        spans, overhead_ms = _ingest_spans(rows, sinks)
        self_s = spans.self_times()
        reasons = Counter(reason for reason, _ in got.elements())
        per_batch = {
            key: statistics.median(p.durationMs.get(key, 0) for p in rows)
            for key in ("addBatch", "latestOffset", "getBatch", "queryPlanning",
                        "walCommit", "commitOffsets")
        }
        written = [f for d in (bronze, dead) for f in d.glob("*.parquet")]
        out["spans"] = spans
        out["per_layer"] = {
            "session.start_s": start_s,
            "session.warmup_s": setup_s - start_s,
            "spark.exec_s": self_s.get("valid_write", 0.0) + self_s.get("dead_write", 0.0),
            **spark_layer(totals, catalyst, counters),
            "spark.task_cpu_ms_per_1k_rows": 1e6 * totals["task_cpu_s"] / max(landed, 1),
            "sinks.valid_write_s": self_s.get("valid_write", 0.0),
            "sinks.dead_write_s": self_s.get("dead_write", 0.0),
            "sinks.files_written": len(written),
            "sinks.bytes_written": sum(f.stat().st_size for f in written),
            "processor.add_batch_ms": per_batch["addBatch"],
            "processor.overhead_ms": statistics.median(overhead_ms),
            "processor.jobs_per_batch": totals["jobs"] / max(len(rows), 1),
            "processor.query_planning_ms": per_batch["queryPlanning"],
            "processor.wal_commit_ms": per_batch["walCommit"],
            "processor.commit_offsets_ms": per_batch["commitOffsets"],
            "sources.latest_offset_ms": per_batch["latestOffset"],
            "sources.get_batch_ms": per_batch["getBatch"],
            "router.rows.valid": reasons[VALID],
            "router.rows.corrupted_batch": reasons[CORRUPTED],
            "router.rows.invalid_schema": reasons[INVALID],
            "router.rows.extra_fields": reasons[EXTRA],
        }
    return out


# Order of the timed phases inside one trigger (MicroBatchExecution).
_PHASES = (
    ("latestOffset", "source"),
    ("walCommit", "commit"),
    ("getBatch", "source"),
    ("queryPlanning", "planning"),
    ("addBatch", "add_batch"),
    ("commitOffsets", "commit"),
)


def _ingest_spans(batches, sinks) -> tuple[Spans, list[float]]:
    """run -> micro-batch -> source / planning / add_batch / commit, with
    the timed sink writes as children of add_batch. Phase spans are laid
    end to end from the trigger start in execution order, because the
    progress event reports durations only; write spans carry their own
    measured times and belong to the trigger whose interval holds their
    start. Also returns each batch's add_batch self time in ms: the
    processor's own cost around the two sink writes."""
    from datetime import datetime

    spans, overhead = Spans(), []
    writes = [(name, w) for name, s in zip(("valid_write", "dead_write"), sinks) for w in s.writes]
    bounds = [
        (start, start + p.durationMs.get("triggerExecution", 0) / 1e3, p)
        for start, p in (
            (datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(), p)
            for p in batches
        )
    ]
    if not bounds:
        return spans, [0.0]
    run = spans.add("run", bounds[0][0], max(end for _, end, _ in bounds))
    for start, end, p in bounds:
        batch = spans.add("micro_batch", start, end, run)
        mine = [(n, w) for n, w in writes if start <= w[0] <= end]
        cursor = start
        for key, name in _PHASES:
            phase_end = cursor + p.durationMs.get(key, 0) / 1e3
            sid = spans.add(name, cursor, phase_end, batch)
            if name == "add_batch":
                for n, (a, b) in mine:
                    spans.add(n, a, b, sid)
                overhead.append(1e3 * ((phase_end - cursor) - sum(b - a for _, (a, b) in mine)))
            cursor = phase_end
    return spans, overhead
