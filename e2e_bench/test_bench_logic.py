"""Unit tests for the benchmark's own logic (no Spark session needed).

Run from the repository root: ``python -m pytest e2e_bench -q``.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from datagen import (
    CORRUPTED,
    EXTRA,
    EXTRA_KEYS,
    INVALID,
    VALID,
    EventBatches,
    canonical_record,
    classify_payload,
)
from ingest_workload import failed_files
from probes import Spans, file_latencies, highest_supported_percentile, percentile

# --- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected_p",
    [(9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_keeps_ten_samples_beyond(n, expected_p):
    got = highest_supported_percentile([float(i) for i in range(n)])
    assert (got[0] if got else None) == expected_p


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 100) == 5.0
    assert percentile(values, 1) == 1.0
    assert highest_supported_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)


# --- checkpoint join ------------------------------------------------------------


def _source_log(path, entries):
    path.write_text("v1\n" + "\n".join(
        json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": bid})
        for name, bid in entries
    ))


def test_file_latency_joins_source_log_to_commit_times(tmp_path):
    ckpt = tmp_path / "ckpt"
    (ckpt / "sources" / "0").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    _source_log(ckpt / "sources" / "0" / "0", [("a.json", 0), ("b.json", 0)])
    _source_log(ckpt / "sources" / "0" / "1", [("c.json", 1)])
    # a compacted roll-up repeats earlier entries; the join must not double count
    _source_log(ckpt / "sources" / "0" / "1.compact", [("a.json", 0), ("b.json", 0), ("c.json", 1)])
    _source_log(ckpt / "sources" / "0" / "2", [("d.json", 2)])  # read but never committed
    (ckpt / "sources" / "0" / ".1.crc").write_bytes(b"\0")
    for bid, t in ((0, 1000.0), (1, 1004.5)):
        f = ckpt / "commits" / str(bid)
        f.write_text("v1\n{}")
        os.utime(f, (t, t))
    due = {"a.json": 999.0, "b.json": 999.5, "c.json": 1001.0, "d.json": 1002.0}
    assert file_latencies(ckpt, due) == {"a.json": 1.0, "b.json": 0.5, "c.json": 3.5}


# --- expected-count classifier -----------------------------------------------


def _page_view(i):
    return {"user_id": f"u{i}", "event_id": f"e{i}", "event_timestamp": "2024-01-01T00:00:00",
            "event_type": "page_view", "properties": {"url": "/home"}}


def test_classifier_on_mixed_batch():
    purchase = {**_page_view(2), "event_type": "purchase", "product_id": "p"}
    invalid = {"ab12cd34": "ef56gh78"}
    null_required = {**_page_view(3), "event_id": None}
    extra = {**_page_view(4), **EXTRA_KEYS}
    one_extra_key = {**_page_view(5), "referrer": "x"}  # 6 keys: not over the declared 6
    batch = [_page_view(1), purchase, invalid, null_required, extra, one_extra_key, _page_view(1)]
    payload = json.dumps(batch)
    assert classify_payload(payload) == [
        (VALID, "e1"),
        (VALID, "e2"),
        (INVALID, canonical_record(invalid)),
        (INVALID, canonical_record(null_required)),
        (EXTRA, canonical_record(extra)),
        (VALID, "e5"),
        (VALID, "e1"),
    ]
    truncated = payload[: len(payload) // 2]
    assert classify_payload(truncated) == [(CORRUPTED, truncated)]
    assert classify_payload("[]") == [(CORRUPTED, "[]")]


def test_generated_files_cover_every_reason_and_repeat_per_seed(tmp_path):
    def land(seed, root):
        gen = EventBatches(seed=seed, batch_size=200)
        (root / "in").mkdir(parents=True)
        (root / "stage").mkdir()
        for i in range(30):
            gen.land(root / "in", root / "stage", f"f{i}.json")
        return gen

    a, b = land(7, tmp_path / "a"), land(7, tmp_path / "b")
    assert a.files == b.files
    assert not list((tmp_path / "a" / "stage").iterdir())  # every file renamed into place
    reasons = Counter(reason for reason, _ in a.expected().elements())
    assert all(reasons[r] > 0 for r in (VALID, INVALID, EXTRA, CORRUPTED))
    assert sum(reasons.values()) == sum(len(rows) for rows in a.files.values())


def test_failed_files_flags_missing_and_duplicated_rows():
    files = {
        "f1": [(VALID, "e1"), (VALID, "e2")],
        "f2": [(VALID, "e3"), (INVALID, "{}")],
        "f3": [(CORRUPTED, "[{")],
    }
    expected = Counter(r for rows in files.values() for r in rows)
    assert failed_files(files, expected, expected.copy()) == set()
    got = expected.copy()
    got[(VALID, "e2")] = 0  # lost
    got[(INVALID, "{}")] = 2  # written twice
    assert failed_files(files, expected, got) == {"f1", "f2"}


# --- span self time ------------------------------------------------------------


def test_self_time_subtracts_union_of_clipped_children():
    spans = Spans()
    root = spans.add("run", 0.0, 10.0)
    a = spans.add("query", 1.0, 3.0, root)
    spans.add("query", 2.0, 5.0, root)  # overlaps the first child
    spans.add("query", 9.0, 12.0, root)  # runs past the parent's end
    spans.add("build", 1.0, 1.5, a)
    self_s = spans.self_times()
    assert self_s["run"] == pytest.approx(10.0 - 5.0)
    assert self_s["query"] == pytest.approx((2.0 - 0.5) + 3.0 + 3.0)
    assert self_s["build"] == pytest.approx(0.5)
