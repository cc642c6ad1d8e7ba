"""Synthetic event producer (reference parity: A29-A34, pure Python).

Re-expresses /root/reference/src/producer (event_factory.py,
data_sinks.py) without copying: a seeded, fully deterministic generator
of user events serialized as one-JSON-array-per-file batches, with the
reference's three fault classes:

- invalid-schema events: a single random key/value object
  (event_factory.py:134-138);
- duplicated events: replay of the previously emitted event with
  probability ``duplicate_chance`` (event_factory.py:71-72);
- corrupted batches: the serialized array truncated at its midpoint
  (producer/data_sinks.py:59-64).

Event shape matches the consumer contract (FIXTURES.md §1): page_view /
purchase with a string->string ``properties`` map, and purchase carrying
the top-level ``product_id`` used to drive schema evolution
(event_factory.py:120-127).
"""

from __future__ import annotations

import json
import os
import random
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path
from typing import Iterator

EVENT_TYPES = ("page_view", "purchase")
CURRENCIES = ("USD", "EUR", "GBP")
URLS = ("/home", "/product", "/cart", "/checkout", "/search")
USER_AGENTS = ("firefox", "chrome", "safari")


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


@dataclass
class EventFactory:
    """Deterministic event generator over a fixed pool of user ids
    (the reference pregenerates 1000 ids, user_ids.txt)."""

    seed: int = 42
    user_pool_size: int = 1000
    invalid_schema_chance: float = 0.0
    duplicate_chance: float = 0.0
    start_time: datetime = field(
        default_factory=lambda: datetime(2024, 1, 1, tzinfo=timezone.utc)
    )

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._user_ids = [_uuid(self._rng) for _ in range(self.user_pool_size)]
        self._clock = self.start_time
        self._last_event: dict | None = None

    def _next_timestamp(self) -> str:
        self._clock += timedelta(seconds=self._rng.uniform(0.1, 5.0))
        return self._clock.isoformat()

    def _valid_event(self) -> dict:
        event_type = self._rng.choice(EVENT_TYPES)
        event: dict = {
            "user_id": self._rng.choice(self._user_ids),
            "event_id": _uuid(self._rng),
            "event_timestamp": self._next_timestamp(),
            "event_type": event_type,
        }
        if event_type == "page_view":
            event["properties"] = {
                "url": self._rng.choice(URLS),
                "user_agent": self._rng.choice(USER_AGENTS),
            }
        else:
            event["product_id"] = _uuid(self._rng)
            event["properties"] = {
                "amount": str(round(self._rng.uniform(1.0, 500.0), 2)),
                "currency": self._rng.choice(CURRENCIES),
            }
        return event

    def _invalid_event(self) -> dict:
        return {_uuid(self._rng)[:8]: _uuid(self._rng)[:8]}

    def create_random_events(self, count: int) -> Iterator[dict]:
        for _ in range(count):
            if self._last_event is not None and self._rng.random() < self.duplicate_chance:
                yield self._last_event
                continue
            if self._rng.random() < self.invalid_schema_chance:
                event = self._invalid_event()
            else:
                event = self._valid_event()
            self._last_event = event
            yield event


@dataclass
class BatchSerializer:
    """JSON-array serialization with optional midpoint truncation."""

    corruption_chance: float = 0.0
    seed: int = 43

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)

    def serialize(self, events: list[dict]) -> str:
        payload = json.dumps(events)
        if self._rng.random() < self.corruption_chance:
            payload = payload[: len(payload) // 2]
        return payload


class LocalDirSink:
    """One batch per ``<uuid4>.json`` file in a directory (the unit of
    streaming discovery, producer/data_sinks.py:99-121)."""

    def __init__(self, path: str | Path, seed: int = 44):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self._rng = random.Random(seed)

    def write(self, payload: str) -> Path:
        # Temp-write then rename: a file source listing the directory
        # mid-write must never see a torn batch. The temp name starts
        # with "." so Spark's file index skips it.
        target = self.path / f"{_uuid(self._rng)}.json"
        tmp = self.path / f".{target.name}.tmp"
        tmp.write_text(payload)
        os.replace(tmp, target)
        return target


def produce(
    out_dir: str | Path,
    n_batches: int = 10,
    batch_size: int = 100,
    seed: int = 42,
    invalid_schema_chance: float = 0.0,
    duplicate_chance: float = 0.0,
    corruption_chance: float = 0.0,
) -> list[Path]:
    """Generate ``n_batches`` batch files; returns the written paths."""
    factory = EventFactory(
        seed=seed,
        invalid_schema_chance=invalid_schema_chance,
        duplicate_chance=duplicate_chance,
    )
    serializer = BatchSerializer(corruption_chance=corruption_chance, seed=seed + 1)
    sink = LocalDirSink(out_dir, seed=seed + 2)
    return [
        sink.write(serializer.serialize(list(factory.create_random_events(batch_size))))
        for _ in range(n_batches)
    ]


class StdoutSink:
    """Print batches to stdout (reference producer default sink,
    producer/data_sinks.py:82-98) — the local-dev path."""

    def write(self, payload: str) -> None:
        print(payload)


class S3Sink:
    """One batch per ``<prefix>/<uuid4>.json`` object (reference S3 sink,
    producer/data_sinks.py:140-167: boto3 ``upload_fileobj`` of the
    serialized batch to ``bucket/prefix/uuid.json``).

    The client is injectable: pass any object with
    ``upload_fileobj(Fileobj=, Bucket=, Key=)`` — a boto3 client in
    production, a recording stub in tests — so the sink's key naming and
    payload contract are verified without network access. When ``client``
    is omitted, a boto3 client is built lazily from the given endpoint and
    credentials (boto3 is not vendored here; importing it is the caller's
    environment's concern, mirroring the reference's docker-only S3 path).
    """

    def __init__(
        self,
        bucket: str,
        prefix: str,
        client=None,
        *,
        endpoint_url: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
        region: str | None = None,
        seed: int = 45,
    ):
        if client is None:
            import boto3  # gated: absent in the harness sandbox

            client = boto3.client(
                service_name="s3",
                region_name=region,
                endpoint_url=endpoint_url,
                aws_access_key_id=access_key,
                aws_secret_access_key=secret_key,
            )
        self.bucket = bucket
        self.prefix = prefix.strip("/")
        self._client = client
        self._rng = random.Random(seed)

    def write(self, payload: str) -> str:
        from io import BytesIO

        key = f"{self.prefix}/{_uuid(self._rng)}.json"
        self._client.upload_fileobj(
            Fileobj=BytesIO(payload.encode("utf-8")), Bucket=self.bucket, Key=key
        )
        return key
