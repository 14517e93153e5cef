"""SparkSession factory tuned for this engine.

The reference pipeline is single-threaded pandas writing Spark-flavored
parquet (``flavor="spark"`` at reference services/fitbit/fitbit_utils.py:287,
services/strava/utils.py:375) — i.e. it *produces for* Spark. This module
is where our engine actually *is* Spark. Defaults are chosen for the
local[N] test harness but every knob is the one you would tune on a real
cluster:

- AQE on (runtime coalesce, broadcast demotion, skew-join splitting) —
  at 100 TB this is what keeps post-shuffle partitions near the target
  size regardless of the static ``spark.sql.shuffle.partitions``.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  you size it to ~2-3× total cores and let AQE coalesce.
- Arrow enabled: every pandas-interop boundary (createDataFrame,
  toPandas, pandas UDFs) is Arrow-batched, never row-pickled.
- Session timezone pinned UTC so timestamp semantics are stable and
  match the DuckDB oracle reading the same parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _cores() -> int:
    """Cores this process may run on (``os.sched_getaffinity``;
    ``os.cpu_count()`` where that is missing)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not on every platform
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "fitness-data-ingest-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession. Without ``master`` it
    runs ``local[N]``: N is ``SPARK_GRAFT_CPUS`` when set, else the
    cores available to this process."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _cores()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource pushdown (ingest/datasource.py prunes REST
        # work items from pushed resource/date predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime row-level filtering (explicit, though default-on in
        # Spark 4): inject a Bloom filter built from the small side of a
        # shuffle join into the big side's scan — at 100 TB this prunes
        # fact-table rows before the exchange (the "bloom-prune" pattern
        # done by the optimizer, not by hand)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not create.

    The driver hands ``entry()``/``queries()`` an existing SparkSession;
    only runtime confs can still be set on it. UTC pinning is required
    for oracle parity (DuckDB reads parquet timestamps UTC-naive).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # Spark has no TIMESTAMP(NANOS) type (events.ts is parquet ns);
    # read as long and convert via exact integer division (registry_util.t).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet TIMESTAMP(US) (isAdjustedToUTC=false) should come
    # out of the scan as session-tz TimestampType directly, not as
    # TIMESTAMP_NTZ + a per-row cast in a Project: the cast cost ~20%
    # on window_session at sf0.1 (the round-2 regression) and the
    # session is UTC-pinned, so the two readings are value-identical.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:  # static-ish on some builds; best effort
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """The conf profile for the real deployment (100 TB / 1000
    executors) — the local[] factory above IS this profile minus the
    cluster-only knobs. Returned as data so ops can review/override.

    Sizing rules encoded here:
    - shuffle partitions ≈ 2.5× total cores: wide enough that one
      straggler partition doesn't serialize a stage, small enough that
      task overhead stays negligible; AQE coalesces below this per-stage.
    - advisory partition size = the target post-shuffle partition
      (memory per task ≈ 2-3× this after decompression).
    - broadcast threshold 64 MB: dims up to ~10M rows broadcast; beyond
      that sort-merge with AQE skew splitting wins.
    - maxPartitionBytes 128 MB: ~800k scan tasks at 100 TB, drained
      ~4000-wide — keeps scan tasks short enough for elastic scaling
      and retry cheapness.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(int(total_cores * 2.5)),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.shuffle.service.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.speculation": "true",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }
