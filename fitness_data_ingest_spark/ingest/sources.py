"""Source connectors: the REST control plane, kept OUTSIDE the query
plan (SURVEY.md §3.3) behind a small interface with a fixture-backed
fake, so tests never touch a network.

The reference fetches Fitbit intraday JSON per (resource, date)
(fitbit_utils.py:259-279,396-424) and paginated Strava activities
(utils.py:33-79), with rate-limit backpressure (fitbit_utils.py:309-329,
utils.py:337-347) and urllib3 retries (fitbit_utils.py:38-43). Here:

- ``RestSource`` is the interface (fetch one work item → rows);
- ``FixtureSource`` replays deterministic fixtures;
- ``TokenBucket`` reproduces the backpressure semantics testably;
- ``ingest_batch`` turns fetched rows into a typed DataFrame through an
  Arrow table (a local relation planned in the JVM).

Scale path: ``datasource.RestDataSource`` wraps the source in a Spark 4
Python DataSource whose input partitions each pack several work items
(at most one partition per core) and yield one Arrow batch per item;
pushed-down filters prune the items first.
"""

from __future__ import annotations

import time
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field
from typing import Protocol

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


class RestSource(Protocol):
    """One logical REST endpoint: fetch rows for a (resource, date) item."""

    def fetch(self, resource: str, date: str) -> list[dict]: ...


@dataclass
class FixtureSource:
    """Deterministic fake: synthesizes the reference's intraday JSON
    shape ({time, value} rows, fitbit_utils.py:374-379) per work item.
    Empty days exercise the empty-result guard (fitbit_utils.py:270-277).
    """

    samples_per_day: int = 24
    empty_dates: frozenset[str] = frozenset()

    def fetch(self, resource: str, date: str) -> list[dict]:
        if date in self.empty_dates:
            return []
        seed = sum(ord(c) for c in f"{resource}/{date}")
        return [
            {
                "time": f"{i % 24:02d}:{(seed + i) % 60:02d}:00",
                "value": float((seed * 31 + i * 7) % 1000) / 10.0,
            }
            for i in range(self.samples_per_day)
        ]


@dataclass
class TokenBucket:
    """Rate-limit backpressure: sleep until reset when the remaining
    call budget drops below the floor (reference fitbit_utils.py:309-329:
    sleep ``reset_time`` when remaining < 10)."""

    capacity: int = 150
    floor: int = 10
    reset_seconds: float = 3600.0
    remaining: int = field(default=-1)
    sleeps: list[float] = field(default_factory=list)
    _clock: object = time.monotonic

    def __post_init__(self) -> None:
        if self.remaining < 0:
            self.remaining = self.capacity

    def acquire(self, sleeper=time.sleep) -> None:
        if self.remaining < self.floor:
            self.sleeps.append(self.reset_seconds)
            sleeper(self.reset_seconds)
            self.remaining = self.capacity
        self.remaining -= 1


def fetch_items(
    source: RestSource,
    items: Iterable[tuple[str, str]],
    bucket: TokenBucket | None = None,
) -> list[dict]:
    """Driver-side fetch loop over pending work items (the reference's
    per-item loop, fitbit_utils.py:230-289) with backpressure. Returns
    rows tagged with their work item."""
    rows: list[dict] = []
    for resource, date in items:
        if bucket is not None:
            bucket.acquire()
        for r in source.fetch(resource, date):
            rows.append({"resource": resource, "date": date, **r})
    return rows


def ingest_batch(
    spark: SparkSession, rows: Sequence[dict], schema: T.StructType
) -> DataFrame:
    """Rows → typed DataFrame through an Arrow table, so no Python task
    runs to build it; a key a row lacks is null. Empty input → empty
    typed frame, preserving the empty-result guard semantics."""
    table = pa.Table.from_pylist(list(rows), schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
