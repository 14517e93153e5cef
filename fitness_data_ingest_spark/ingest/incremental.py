"""Incremental / idempotent ingestion planner.

The reference's plan (services/fitbit/fitbit_utils.py:185-234): build a
(resource × date) work list newest-first, pre-list the sink once into a
manifest, skip items whose output key already exists. Re-expressed as
DataFrames:

    work_items ──left_anti(manifest on key)──► pending ──fetch/normalize──► sink

Divergences from reference behavior (intent honored, bugs fixed —
SURVEY.md §2.6):
- exact key equality, not substring matching (§2.6.4, utils.py:412);
- cached/already-ingested data is UNIONED with fresh data, not dropped
  (§2.6.3, utils.py:413-418);
- an absent sink yields an empty manifest, and any other listing
  failure raises (the reference returned None, §2.6.5; an empty
  manifest on error would mark every item pending and land it twice).

The work list is planned in the JVM: literal arrays exploded over a
one-row range, no Python-list ``createDataFrame`` (which would run a
pickled-RDD job with one Python task per core just to build a few rows).
At 100 TB: the manifest (≤ millions of keys) broadcasts; work-item
planning never shuffles the data itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.relational import incremental_anti_join, union_all
from ..ops.scalar import date_series, object_key
from .schemas import INTRADAY_RESOURCES


def with_resources(frame: DataFrame, resources: Sequence[str]) -> DataFrame:
    """``frame`` × ``resources``: one row per input row and resource, in
    a ``resource`` column. An exploded literal array, so the cross
    product is planned in the JVM without a join or a Python task."""
    res = F.array(*[F.lit(r) for r in resources]).cast("array<string>")
    return frame.select("*", F.explode(res).alias("resource"))


def work_items(
    spark: SparkSession,
    start: str,
    end: str,
    resources: tuple[str, ...] = INTRADAY_RESOURCES,
    prefix: str = "intraday",
) -> DataFrame:
    """(resource × date) work list with sink keys, newest-first.

    Reference: date sequence reversed (fitbit_utils.py:211-212) ×
    resources (globals.py:5-14), key layout (fitbit_utils.py:227-228).
    """
    # one partition: the sort below then needs no exchange
    dates = spark.range(1, numPartitions=1).select(
        F.explode(date_series(start, end, newest_first=True)).alias("date")
    )
    return with_resources(dates, resources).select(
        "resource",
        F.date_format("date", "yyyy-MM-dd").alias("date"),
        object_key(prefix, F.col("resource"), F.col("date")).alias("key"),
        F.col("date").alias("_order"),
    ).orderBy(F.col("_order").desc(), F.col("resource")).drop("_order")


def pending_items(work: DataFrame, manifest: DataFrame) -> DataFrame:
    """Work items whose key is not yet in the sink manifest (J2)."""
    have = manifest.select(F.col("Key").alias("key"))
    return incremental_anti_join(work, have, on="key")


def merge_incremental(cached: DataFrame, fresh: DataFrame) -> DataFrame:
    """Union previously-ingested data with newly-fetched data — the fix
    for the reference's silent drop of cache hits (§2.6.3)."""
    return union_all([cached, fresh], allow_missing=True)
