"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of a seed:

- ``write_tables``: the TPC-H-shaped parquet tables the registered
  queries read (column names, types and value domains follow the
  testdata contract in TESTDATA.md), so a run needs nothing outside its
  checkout;
- ``EventBatches``: JSON-array batch files for the streaming consumer,
  built on the program's own ``producer.EventFactory``/``BatchSerializer``
  plus a share of extra-field events, each landed by temp-write + rename
  so the file source never lists a half-written file.

``classify_payload`` is the benchmark's independent expectation of how
the router treats each generated file: it is what the ingest check
compares the sinks against.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spark_streaming_practicum_spark.producer import BatchSerializer, EventFactory

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("red", "new", "hot", "small", "large", "cold", "old", "blue")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big filter group query "
    "customer stream vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _dates(rng: np.random.Generator, max_days: int, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, max_days, n) * _DAY_US


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    words = rng.integers(0, len(VOCAB), (n_docs, 100))
    lengths = rng.integers(8, 100, n_docs)
    texts = [" ".join(VOCAB[w] for w in row[:k]) for row, k in zip(words, lengths)]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": cust,
            "c_name": [f"Customer#{i:09d}" for i in cust],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": supp,
            "s_name": [f"Supplier#{i:09d}" for i in supp],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": part,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, len(PART_ADJ), (n_part, 2))
            ],
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("O", "P", "F"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("O", "F"), n_line),
            "l_shipdate": _dates(rng, 2498, n_line) + _DAY_US,
        }),
        "documents": pa.table({
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n_docs),
            "n_chars": np.array([len(t) for t in texts]),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n_vec),
            "embedding": pa.array(
                list(rng.normal(0.0, 0.12, (n_vec, EMBED_DIM)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }),
    }


def write_tables(out_dir: Path, sf: float, seed: int) -> Path:
    """Write one parquet file per table under ``out_dir``; returns it."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, tbl in _tables(sf, seed).items():
        pq.write_table(tbl, out_dir / f"{name}.parquet")
    return out_dir


# --- streaming input ---------------------------------------------------------

CORRUPTED, INVALID, EXTRA, VALID = "corrupted_batch", "invalid_schema", "extra_fields", "valid"
REQUIRED_KEYS = ("user_id", "event_id", "event_timestamp", "event_type")
DECLARED_FIELDS = 6  # fields of consumer_cli.EVENT_SCHEMA
EXTRA_KEYS = {"session_id": "s-1", "referrer": "https://example.com/"}
EXTRA_FIELD_CHANCE = 0.02


def classify_payload(payload: str) -> list[tuple[str, str]]:
    """Expected sink rows for one batch file as ``(reason, key)`` pairs.

    Mirrors the router's contract, not its code: a batch that is not a
    non-empty JSON array is one ``corrupted_batch`` row keyed by the batch
    text; a record missing a required key is ``invalid_schema``; a record
    with more keys than the schema declares is ``extra_fields``; the rest
    are valid, keyed by ``event_id``. Dead-letter keys are the record's
    canonical JSON, because Spark re-serializes each array element."""
    try:
        records = json.loads(payload)
    except json.JSONDecodeError:
        return [(CORRUPTED, payload)]
    if not isinstance(records, list) or not records:
        return [(CORRUPTED, payload)]
    rows = []
    for rec in records:
        if not isinstance(rec, dict) or any(rec.get(k) is None for k in REQUIRED_KEYS):
            rows.append((INVALID, canonical_record(rec)))
        elif len(rec) > DECLARED_FIELDS:
            rows.append((EXTRA, canonical_record(rec)))
        else:
            rows.append((VALID, rec["event_id"]))
    return rows


def canonical_record(rec) -> str:
    return json.dumps(rec, sort_keys=True, separators=(",", ":"))


@dataclass
class EventBatches:
    """Seeded batch-file generator with the reference compose file's fault
    mix (10 % invalid-schema events, 5 % duplicates, 10 % corrupted
    batches) plus ``EXTRA_FIELD_CHANCE`` of events carrying two
    undeclared keys, which pushes any event past the declared field count.
    ``files`` maps each landed file name to its expected sink rows."""

    seed: int
    batch_size: int = 1000
    files: dict[str, list[tuple[str, str]]] = field(default_factory=dict, init=False)

    def __post_init__(self) -> None:
        self._factory = EventFactory(
            seed=self.seed, invalid_schema_chance=0.1, duplicate_chance=0.05
        )
        self._serializer = BatchSerializer(corruption_chance=0.1, seed=self.seed + 1)
        self._rng = random.Random(self.seed + 2)

    def payload(self) -> str:
        events = []
        for ev in self._factory.create_random_events(self.batch_size):
            if "event_id" in ev and self._rng.random() < EXTRA_FIELD_CHANCE:
                ev = {**ev, **EXTRA_KEYS}
            events.append(ev)
        return self._serializer.serialize(events)

    def land(self, target_dir: Path, staging_dir: Path, name: str) -> Path:
        """Write one batch file atomically: temp file, then rename into
        the watched directory (same filesystem)."""
        payload = self.payload()
        tmp = staging_dir / name
        tmp.write_text(payload)
        target = target_dir / name
        os.replace(tmp, target)
        self.files[target.name] = classify_payload(payload)
        return target

    def expected(self) -> Counter:
        """Expected ``(reason, key)`` multiset over every landed file."""
        return Counter(row for rows in self.files.values() for row in rows)
