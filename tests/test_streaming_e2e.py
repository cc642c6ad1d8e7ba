"""End-to-end Structured Streaming test: raw JSON-array batch files on
disk -> text file stream -> parse/validate/route -> parquet bronze +
dead-letter sinks, with checkpointed exactly-once restart semantics
(reference A1, A16, A23, A24-A26)."""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest
from pyspark.sql import types as T

from spark_streaming_practicum_spark.sources.streaming import text_file_stream
from spark_streaming_practicum_spark.streaming.processor import StreamProcessor
from spark_streaming_practicum_spark.streaming.sinks import ParquetSink

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("name", T.StringType(), nullable=False),
    ]
)


def _write_batch(dir_: Path, name: str, records_or_raw) -> None:
    payload = (
        records_or_raw
        if isinstance(records_or_raw, str)
        else json.dumps(records_or_raw)
    )
    (dir_ / name).write_text(payload)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "in": tmp_path / "in",
        "bronze": tmp_path / "bronze",
        "dead": tmp_path / "dead",
        "ckpt": tmp_path / "ckpt",
    }
    d["in"].mkdir()
    return d


def _processor(dirs) -> StreamProcessor:
    return StreamProcessor(
        schema=SCHEMA,
        valid_sink=ParquetSink(str(dirs["bronze"])),
        dead_letter_sink=ParquetSink(str(dirs["dead"])),
        checkpoint_location=str(dirs["ckpt"]),
        trigger_interval="1 seconds",
    )


def _run_until_drained(proc, spark, dirs):
    query = proc.start(text_file_stream(spark, str(dirs["in"])))
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return query


def test_stream_routes_to_both_sinks(spark, dirs):
    _write_batch(dirs["in"], "b1.json", [{"id": "1", "name": "a"}, {"id": "2", "name": "b"}])
    _write_batch(dirs["in"], "b2.json", '[{"id": "3", "na')  # corrupted
    _write_batch(dirs["in"], "b3.json", [{"id": "4"}])  # invalid schema

    proc = _processor(dirs)
    _run_until_drained(proc, spark, dirs)

    bronze = spark.read.parquet(str(dirs["bronze"]))
    dead = spark.read.parquet(str(dirs["dead"]))
    assert {(r.id, r.name) for r in bronze.collect()} == {("1", "a"), ("2", "b")}
    reasons = sorted(r["_dead_letter_reason"] for r in dead.collect())
    assert reasons == ["corrupted_batch", "invalid_schema"]
    # metrics were recorded off the cached batch (A15 improvement)
    assert sum(m.valid_rows for m in proc.metrics) == 2
    assert sum(m.dead_letter_rows for m in proc.metrics) == 2


def test_checkpoint_restart_no_reprocessing(spark, dirs):
    _write_batch(dirs["in"], "b1.json", [{"id": "1", "name": "a"}])
    proc = _processor(dirs)
    _run_until_drained(proc, spark, dirs)
    assert spark.read.parquet(str(dirs["bronze"])).count() == 1

    # restart with the same checkpoint; add one new file — only it is seen
    _write_batch(dirs["in"], "b2.json", [{"id": "2", "name": "b"}])
    proc2 = _processor(dirs)
    _run_until_drained(proc2, spark, dirs)
    bronze = spark.read.parquet(str(dirs["bronze"]))
    assert bronze.count() == 2  # no duplicates from b1.json
    assert {r.id for r in bronze.collect()} == {"1", "2"}


def test_progress_sample_shape(spark, dirs):
    _write_batch(dirs["in"], "b1.json", [{"id": "1", "name": "a"}])
    proc = _processor(dirs)
    query = proc.start(text_file_stream(spark, str(dirs["in"])))
    try:
        query.processAllAvailable()
        deadline = time.time() + 10
        progress = None
        while progress is None and time.time() < deadline:
            progress = StreamProcessor.log_progress(query)
        assert progress is not None and "batchId" in progress
    finally:
        query.stop()


def test_multiple_micro_batches_available_now(spark, dirs):
    """maxFilesPerTrigger=1 + availableNow: each input file becomes its
    own micro-batch through the checkpointed offset log (A24/A26 under
    multi-batch conditions, not just a single drain)."""
    for i in range(4):
        _write_batch(dirs["in"], f"b{i}.json", [{"id": str(i), "name": f"n{i}"}])
    proc = _processor(dirs)
    stream = text_file_stream(spark, str(dirs["in"]), max_files_per_trigger=1)
    query = (
        stream.writeStream.option("checkpointLocation", str(dirs["ckpt"]))
        .trigger(availableNow=True)
        .foreachBatch(lambda df, bid: proc.process_batch(df, bid))
        .start()
    )
    try:
        query.awaitTermination(timeout=120)
    finally:
        query.stop()
    assert len(proc.metrics) == 4
    assert sum(m.valid_rows for m in proc.metrics) == 4
    assert spark.read.parquet(str(dirs["bronze"])).count() == 4


def test_concurrent_streaming_queries(spark, dirs):
    """Two streaming queries over the same source directory run
    concurrently in one session (independent checkpoints/state) — the
    multi-pipeline deployment shape."""
    for i in range(3):
        _write_batch(dirs["in"], f"c{i}.json", [{"id": str(i), "name": f"n{i}"}])

    import uuid as _uuid

    from pyspark.sql import functions as F

    raw = text_file_stream(spark, str(dirs["in"]))
    s1 = f"cnt_{_uuid.uuid4().hex[:8]}"
    q1 = (
        raw.groupBy().count()
        .writeStream.outputMode("complete")
        .option("checkpointLocation", str(dirs["ckpt"] / "a"))
        .format("memory").queryName(s1).start()
    )
    s2 = f"len_{_uuid.uuid4().hex[:8]}"
    q2 = (
        raw.select(F.length("value").alias("n")).groupBy().sum("n")
        .writeStream.outputMode("complete")
        .option("checkpointLocation", str(dirs["ckpt"] / "b"))
        .format("memory").queryName(s2).start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        assert spark.table(s1).collect()[0][0] == 3
        assert spark.table(s2).collect()[0][0] > 0
        assert q1.isActive and q2.isActive
    finally:
        q1.stop()
        q2.stop()


def test_available_now_drains_and_terminates(spark, dirs):
    """Trigger.AvailableNow: the same pipeline drains everything present
    at start and terminates on its own (backfill mode) — no stop() call,
    and the checkpoint still dedups a second drain."""
    _write_batch(dirs["in"], "b1.json", [{"id": "1", "name": "a"}])
    _write_batch(dirs["in"], "b2.json", [{"id": "2", "name": "b"}])

    proc = _processor(dirs)
    q = proc.start(text_file_stream(spark, str(dirs["in"])), available_now=True)
    assert q.awaitTermination(60), "availableNow query must self-terminate"

    bronze = spark.read.parquet(str(dirs["bronze"]))
    assert {(r.id, r.name) for r in bronze.collect()} == {("1", "a"), ("2", "b")}

    # second drain over the same checkpoint: nothing new to process
    q2 = proc.start(text_file_stream(spark, str(dirs["in"])), available_now=True)
    assert q2.awaitTermination(60)
    assert spark.read.parquet(str(dirs["bronze"])).count() == 2
