"""Spark 4 Python DataSource for the REST ingestion surface (SURVEY.md
§2.1 S1/S2): the scale path promised by ``sources.py``.

The reference fetches one (resource, date) at a time on a single thread
(fitbit_utils.py:185-234). Here the same work-item grid becomes source
partitions: ``partitions()`` packs the (resource, date) items into at
most one ``InputPartition`` per core of the planning process
(``os.sched_getaffinity``; ``os.cpu_count()`` where that is missing), and
never into more partitions than there are items. Every read task pays a
fixed Python-worker cost whatever it fetches, so one task per item would
spend most of a small sync on task start-up. Measured on a 4-core Xeon
host (a 2-resource x 4-day read, four tasks, workers reused): about
0.34 s of worker CPU per task while each task re-read Spark's cached
zip archives, about 0.09 s since the package drops those importers
when it loads (``compat.drop_archive_importers``). ``read()`` yields one
``pyarrow.RecordBatch`` per item, so rows cross into the JVM as columns.

Filter pushdown (``pushFilters``) reproduces the reference's
source-level predicates (SURVEY §2.2 P3 — the date in the URL path and
the epoch after/before params): EqualTo/In on ``resource`` and
range/equality on ``date`` PRUNE WORK ITEMS before they are packed —
pushed-down filters mean whole HTTP calls never happen, the strongest
form of pushdown. Dates are ISO strings, so lexicographic compare ==
chronological compare.

Rate limiting: this source has none. Only the driver-side
``sources.fetch_items`` loop takes a ``TokenBucket`` (the reference's
backpressure, fitbit_utils.py:309-329); ``RestReader.read()`` fetches
its items without one.

The transport is injected: tests register the source with the
deterministic ``FixtureSource`` payload (no network, same JSON shape).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date as _date
from datetime import timedelta
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

from ..session import _cores
from .sources import FixtureSource

DEFAULT_RESOURCES = "heart,steps,calories,distance"
SCHEMA = "resource string, date string, time string, value double"
_ARROW_SCHEMA = pa.schema(
    [("resource", pa.string()), ("date", pa.string()),
     ("time", pa.string()), ("value", pa.float64())]
)


@dataclass
class WorkItems(InputPartition):
    """One read task's share of the (resource, date) grid."""

    items: list[tuple[str, str]]


def _date_seq(start: str, end: str) -> list[str]:
    d0, d1 = _date.fromisoformat(start), _date.fromisoformat(end)
    out = []
    while d0 <= d1:
        out.append(d0.isoformat())
        d0 += timedelta(days=1)
    # newest-first, like the reference (fitbit_utils.py:211-212)
    return out[::-1]


def _parse_options(options: dict) -> tuple[list[str], list[str], int, frozenset[str]]:
    """The options both readers take: the resources, the dates
    (newest-first), the samples per day, and the dates that return no
    rows."""
    resources = [
        r for r in options.get("resources", DEFAULT_RESOURCES).split(",") if r
    ]
    dates = _date_seq(
        options.get("start", "2024-01-01"), options.get("end", "2024-01-07")
    )
    samples = int(options.get("samples_per_day", "24"))
    empty_dates = frozenset(
        d for d in options.get("empty_dates", "").split(",") if d
    )
    return resources, dates, samples, empty_dates


class RestReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.resources, self.dates, self.samples, self.empty_dates = (
            _parse_options(options)
        )
        self.pushed: list[Filter] = []

    # -- pushdown: prune the work-item grid ---------------------------
    def _attr(self, f: Filter) -> str:
        return f.attribute[0] if isinstance(f.attribute, tuple) else str(f.attribute)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            name = self._attr(f)
            if name == "resource" and isinstance(f, (EqualTo, In)):
                vals = set(f.value) if isinstance(f, In) else {f.value}
                self.resources = [r for r in self.resources if r in vals]
                self.pushed.append(f)
            elif name == "date" and isinstance(f, In):
                vals = set(f.value)
                self.dates = [d for d in self.dates if d in vals]
                self.pushed.append(f)
            elif name == "date" and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                ops = {
                    EqualTo: lambda d, v: d == v,
                    GreaterThan: lambda d, v: d > v,
                    GreaterThanOrEqual: lambda d, v: d >= v,
                    LessThan: lambda d, v: d < v,
                    LessThanOrEqual: lambda d, v: d <= v,
                }
                keep = ops[type(f)]
                self.dates = [d for d in self.dates if keep(d, f.value)]
                self.pushed.append(f)
            else:
                # unsupported → Spark applies it post-scan
                yield f

    def partitions(self) -> list[InputPartition]:
        items = [(r, d) for r in self.resources for d in self.dates]
        bins = min(len(items), _cores())
        return [WorkItems(items[i::bins]) for i in range(bins)]

    def read(self, part: WorkItems | None) -> Iterator[pa.RecordBatch]:
        # Spark reads a source that planned no partitions as one None
        items = part.items if part is not None else []
        src = FixtureSource(
            samples_per_day=self.samples, empty_dates=self.empty_dates
        )
        for resource, date in items:
            rows = src.fetch(resource, date)
            if not rows:
                continue
            n = len(rows)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([resource] * n, pa.string()),
                    pa.array([date] * n, pa.string()),
                    pa.array([r["time"] for r in rows], pa.string()),
                    pa.array([r["value"] for r in rows], pa.float64()),
                ],
                schema=_ARROW_SCHEMA,
            )


class RestDataSource(DataSource):
    """``spark.read.format("fitness_rest")`` — register with
    ``spark.dataSource.register(RestDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "fitness_rest"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> RestReader:
        return RestReader(dict(self.options))


class RestStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch streaming face of the REST source: continuous
    ingestion. The offset is the count of dates already ingested
    (oldest-first — a live deployment appends new dates as they arrive);
    each micro-batch drains every unconsumed date across all resources.

    ``readBetweenOffsets`` replays any [start, end) deterministically —
    with the fixture transport that is trivially exact, and with a real
    REST backend it is as exact as the API's own immutability, which is
    the contract checkpoint recovery needs for exactly-once.
    """

    def __init__(self, options: dict) -> None:
        self.resources, dates, self.samples, self.empty_dates = _parse_options(
            options
        )
        # oldest-first for a forward-moving stream
        self.dates = dates[::-1]

    def initialOffset(self) -> dict:
        return {"n_dates": 0}

    def _rows(self, lo: int, hi: int) -> list[tuple]:
        # a LIST, not a generator: the runtime pickles the batch rows
        # into the checkpoint prefetch cache for replay
        src = FixtureSource(
            samples_per_day=self.samples, empty_dates=self.empty_dates
        )
        return [
            (r, d, row["time"], row["value"])
            for d in self.dates[lo:hi]
            for r in self.resources
            for row in src.fetch(r, d)
        ]

    def read(self, start: dict):
        lo = start["n_dates"]
        hi = len(self.dates)
        # iter(list): the runtime requires an iterator object, and a
        # list_iterator stays picklable for the prefetch-replay cache
        return iter(self._rows(lo, hi)), {"n_dates": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["n_dates"], end["n_dates"]))


class RestStreamDataSource(DataSource):
    """``spark.readStream.format("fitness_rest_stream")``."""

    @classmethod
    def name(cls) -> str:
        return "fitness_rest_stream"

    def schema(self) -> str:
        return SCHEMA

    def simpleStreamReader(self, schema) -> RestStreamReader:
        return RestStreamReader(dict(self.options))
