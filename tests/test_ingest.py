"""Ingestion framework tests: schema normalization, incremental
planning, sources, partitioned sink — the reference-parity layer."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fitness_data_ingest_spark.ingest import datasource as DS
from fitness_data_ingest_spark.ingest import incremental as INC
from fitness_data_ingest_spark.ingest import normalize as N
from fitness_data_ingest_spark.ingest import schemas as SCH
from fitness_data_ingest_spark.ingest import sources as SRC
from fitness_data_ingest_spark.io import write_partitioned
from fitness_data_ingest_spark.ops.relational import exists_semi_join, incremental_anti_join


def test_normalize_activities_defaults_and_nulling(spark):
    raw = spark.createDataFrame(
        [
            Row(id=1, name="morning run", has_heartrate=True, average_heartrate=150.0),
            Row(id=2, name="commute", has_heartrate=False, average_heartrate=120.0),
            Row(id=3, name="bare", has_heartrate=None, average_heartrate=None),
        ]
    )
    out = N.normalize_activities(raw)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in SCH.STRAVA_ACTIVITIES.fields
    ]
    rows = {r["id"]: r for r in out.collect()}
    # defaults filled (visibility 'everyone', pr_count 0 — utils.py:202,225)
    assert rows[1]["visibility"] == "everyone"
    assert rows[1]["pr_count"] == 0
    # heart-rate preserved when flagged, nulled otherwise (utils.py:157-159)
    assert rows[1]["average_heartrate"] == 150.0
    assert rows[2]["average_heartrate"] is None
    assert rows[3]["average_heartrate"] is None
    # missing columns became typed nulls
    assert rows[1]["sport_type"] is None
    assert out.schema["athlete"].dataType.typeName() == "struct"


def test_normalize_intraday_derives_datetime(spark):
    raw = spark.createDataFrame([Row(time="00:01:00", value=72.0)])
    out = N.normalize_intraday(raw, "heart", "2024-03-01")
    r = out.collect()[0]
    assert r["resource"] == "heart"
    assert r["date"] == "2024-03-01"
    assert str(r["datetime"]) == "2024-03-01 00:01:00"


def test_work_items_newest_first_and_keys(spark):
    items = INC.work_items(spark, "2024-01-01", "2024-01-03", resources=("heart", "steps"))
    rows = items.collect()
    assert len(rows) == 6
    assert rows[0]["date"] == "2024-01-03"  # newest first (fitbit_utils.py:212)
    assert rows[0]["key"] == "intraday/heart/heart_2024-01-03.parquet"


def test_pending_items_anti_join_exact_keys(spark):
    work = INC.work_items(spark, "2024-01-01", "2024-01-03", resources=("heart",))
    manifest = spark.createDataFrame(
        [
            Row(
                Key="intraday/heart/heart_2024-01-02.parquet",
                Size=1,
                LastModified=None,
                StorageClass="STANDARD",
            ),
            # substring trap (SURVEY §2.6.4): must NOT match 2024-01-0
            Row(Key="2024-01-0", Size=1, LastModified=None, StorageClass="STANDARD"),
        ],
        schema=SCH.INGEST_MANIFEST,
    )
    pending = INC.pending_items(work, manifest)
    dates = {r["date"] for r in pending.collect()}
    assert dates == {"2024-01-01", "2024-01-03"}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_planning_frames_run_no_python_rdd(spark, tmp_path):
    """Plan guard: the sync's planning frames are built in the JVM. A
    frame built by ``createDataFrame`` from a Python list scans an
    ``ExistingRDD`` whose tasks each start a Python worker."""
    from fitness_data_ingest_spark.ingest.endpoints import thirty_day_work_items
    from fitness_data_ingest_spark.io import file_manifest

    assert "ExistingRDD" in _executed_plan(spark.createDataFrame([("heart",)], ["r"]))
    out = str(tmp_path / "lake")
    spark.range(4).write.parquet(out)
    rows = [{"resource": "heart", "date": "2024-01-01", "time": "00:00:00", "value": 1.0}]
    frames = {
        "work_items": INC.work_items(spark, "2024-01-01", "2024-01-03"),
        "thirty_day_work_items": thirty_day_work_items(spark, "2024-01-01", "2024-03-05"),
        "file_manifest": file_manifest(spark, out),
        "empty file_manifest": file_manifest(spark, str(tmp_path / "absent")),
        "ingest_batch": SRC.ingest_batch(spark, rows, SCH.FITBIT_INTRADAY[:4]),
    }
    for name, df in frames.items():
        assert "ExistingRDD" not in _executed_plan(df), name


def test_file_manifest_lists_data_files_only(spark, tmp_path):
    """One row per data file with its real size; hidden files (``_SUCCESS``,
    ``.crc`` checksums) are not listed; an absent prefix is an empty
    manifest."""
    import os

    from fitness_data_ingest_spark.io import file_manifest

    out = tmp_path / "lake"
    spark.range(8).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(str(out))
    on_disk = {os.path.join(d, n) for d, _, ns in os.walk(out) for n in ns}
    assert any(p.endswith("_SUCCESS") for p in on_disk)
    assert any(p.endswith(".crc") for p in on_disk)
    data = {p for p in on_disk if p.endswith(".parquet")}
    manifest = file_manifest(spark, str(out)).collect()
    listed = {r["Key"].removeprefix("file:"): r["Size"] for r in manifest}
    assert listed == {p: os.path.getsize(p) for p in data}
    empty = file_manifest(spark, str(tmp_path / "absent"))
    assert empty.count() == 0 and empty.columns == ["Key", "Size", "LastModified", "StorageClass"]


def test_file_manifest_raises_on_listing_failure(spark):
    """A listing that fails for any reason but an absent path must raise:
    an empty manifest would mark every work item pending and land it a
    second time. A storage scheme with no file system behind it fails
    the listing."""
    from fitness_data_ingest_spark.io import file_manifest

    with pytest.raises(Exception, match="No FileSystem for scheme"):
        file_manifest(spark, "unregistered-fs://lake/intraday")


def test_anti_semi_partition_property(spark, sf_dir):
    """Property: left_anti ⊎ left_semi partitions the left side."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey")
    )
    n_anti = incremental_anti_join(cust, orders, on="c_custkey").count()
    n_semi = exists_semi_join(cust, orders, on="c_custkey").count()
    assert n_anti + n_semi == cust.count()


def test_merge_incremental_unions_cache_and_fresh(spark):
    cached = spark.createDataFrame([Row(k=1, v="a")])
    fresh = spark.createDataFrame([Row(k=2, v="b", extra=1)])
    merged = INC.merge_incremental(cached, fresh)
    assert merged.count() == 2  # cache hits NOT dropped (fixes §2.6.3)
    assert set(merged.columns) == {"k", "v", "extra"}


def test_fixture_source_roundtrip_and_empty_guard(spark):
    src = SRC.FixtureSource(samples_per_day=4, empty_dates=frozenset({"2024-01-02"}))
    items = [("heart", "2024-01-01"), ("heart", "2024-01-02")]
    rows = SRC.fetch_items(src, items)
    assert len(rows) == 4  # empty day contributed nothing
    schema = T.StructType(
        [
            T.StructField("resource", T.StringType()),
            T.StructField("date", T.StringType()),
            T.StructField("time", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = SRC.ingest_batch(spark, rows, schema)
    assert df.count() == 4
    empty = SRC.ingest_batch(spark, [], schema)
    assert empty.count() == 0 and empty.schema == schema


def test_token_bucket_backpressure():
    naps = []
    bucket = SRC.TokenBucket(capacity=12, floor=10, reset_seconds=7.0)
    for _ in range(5):
        bucket.acquire(sleeper=naps.append)
    # remaining hits the floor after 3 calls → 4th pays a reset sleep
    assert naps == [7.0]
    assert bucket.remaining == 10


def test_partitioned_sink_prunes(spark, sf_dir, tmp_path):
    """partitionBy layout replaces the reference's path convention;
    reading one partition must scan only that partition's files."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "li_part")
    write_partitioned(li, out, partition_by=["l_returnflag"])
    one = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    expected = li.filter(F.col("l_returnflag") == "R").count()
    assert one.count() == expected
    files = {r[0] for r in one.select(F.input_file_name()).distinct().collect()}
    assert files and all("l_returnflag=R" in f for f in files)


# ------------------------------- Spark 4 Python DataSource (scale path)


def _planned_items(options: dict, *filters) -> list[tuple[str, str]]:
    """The (resource, date) items the source plans after pushing
    ``filters``, summed over its packed partitions. Every filter must be
    consumed by the source."""
    reader = DS.RestReader(options)
    assert list(reader.pushFilters(list(filters))) == []
    return [item for part in reader.partitions() for item in part.items]


class TestRestDataSource:
    @pytest.fixture(autouse=True)
    def _register(self, spark):
        from fitness_data_ingest_spark.ingest.datasource import RestDataSource

        spark.dataSource.register(RestDataSource)

    def _read(self, spark, **opts):
        r = spark.read.format("fitness_rest")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def test_reads_work_item_grid(self, spark):
        opts = {"resources": "heart,steps", "start": "2024-01-01", "end": "2024-01-05"}
        df = self._read(spark, **opts)
        # 2 resources x 5 days x 24 samples
        assert df.count() == 2 * 5 * 24
        assert df.columns == ["resource", "date", "time", "value"]
        # every (resource, date) work item is planned, packed into at
        # most one partition per core
        assert len(_planned_items(opts)) == 10
        assert df.rdd.getNumPartitions() == min(10, DS._cores())

    def test_empty_day_guard(self, spark):
        df = self._read(
            spark,
            resources="heart",
            start="2024-01-01",
            end="2024-01-03",
            empty_dates="2024-01-02",
        )
        assert df.count() == 2 * 24

    def test_filter_pushdown_prunes_work_items(self, spark):
        """Pushed resource/date predicates must shrink the planned
        work-item grid (pruned items = HTTP calls that never happen)."""
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

        opts = {"resources": "heart,steps,calories", "start": "2024-01-01",
                "end": "2024-01-31"}
        df = self._read(spark, **opts)
        filtered = df.filter(
            (F.col("resource") == "heart")
            & (F.col("date") >= "2024-01-10")
            & (F.col("date") < "2024-01-15")
        )
        # Spark hands all three predicates to the source: none is left
        # for a post-scan filter
        plan = filtered._jdf.queryExecution().optimizedPlan().toString()
        assert "heart" not in plan and "2024-01-1" not in plan
        assert len(_planned_items(opts)) == 3 * 31
        pruned = _planned_items(
            opts,
            EqualTo(("resource",), "heart"),
            GreaterThanOrEqual(("date",), "2024-01-10"),
            LessThan(("date",), "2024-01-15"),
        )
        assert len(pruned) == 5  # 1 resource x 5 days
        assert filtered.rdd.getNumPartitions() == min(5, DS._cores())
        assert filtered.count() == 5 * 24
        rows = filtered.select("resource", "date").distinct().collect()
        assert {r["resource"] for r in rows} == {"heart"}
        assert {r["date"] for r in rows} == {
            f"2024-01-1{i}" for i in range(0, 5)
        }

    def test_pushdown_consumes_predicate(self, spark):
        """A pushed date-equality must be consumed by the source: the
        optimized plan keeps only the residual isnotnull, and the scan
        shrinks to the single matching work item."""
        df = self._read(spark, resources="heart", start="2024-01-01", end="2024-01-09")
        filtered = df.filter(F.col("date") == "2024-01-05")
        plan = filtered._jdf.queryExecution().optimizedPlan().toString()
        assert "2024-01-05" not in plan  # consumed, not re-evaluated post-scan
        assert filtered.rdd.getNumPartitions() == 1

    def test_deterministic_payload(self, spark):
        a = self._read(spark, resources="heart", start="2024-01-01", end="2024-01-02")
        b = self._read(spark, resources="heart", start="2024-01-01", end="2024-01-02")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    @pytest.mark.parametrize(
        "n_res,n_days,cores", [(1, 1, 4), (2, 5, 4), (3, 31, 4), (2, 2, 1), (8, 2, 3)]
    )
    def test_partitions_pack_every_item_once(self, monkeypatch, n_res, n_days, cores):
        """Packing covers the grid exactly once, in min(items, cores)
        partitions whose sizes differ by at most one."""
        monkeypatch.setattr(DS, "_cores", lambda: cores)
        reader = DS.RestReader({
            "resources": ",".join(f"r{i}" for i in range(n_res)),
            "start": "2024-01-01", "end": f"2024-01-{n_days:02d}",
        })
        parts = reader.partitions()
        items = [i for p in parts for i in p.items]
        assert len(items) == len(set(items)) == n_res * n_days
        assert set(items) == {(r, d) for r in reader.resources for d in reader.dates}
        assert len(parts) == min(n_res * n_days, cores)
        sizes = [len(p.items) for p in parts]
        assert max(sizes) - min(sizes) <= 1

    def test_empty_dates_and_empty_grid_yield_no_rows(self, spark):
        reader = DS.RestReader({"resources": "heart,steps", "start": "2024-01-01",
                                "end": "2024-01-02", "empty_dates": "2024-01-02"})
        assert list(reader.read(DS.WorkItems([("heart", "2024-01-02"),
                                              ("steps", "2024-01-02")]))) == []
        batches = list(reader.read(DS.WorkItems([("heart", "2024-01-02"),
                                                 ("heart", "2024-01-01")])))
        assert [b.num_rows for b in batches] == [24]  # one batch per non-empty item
        assert list(reader.read(None)) == []
        all_empty = self._read(spark, resources="heart,steps", start="2024-01-01",
                               end="2024-01-02", empty_dates="2024-01-01,2024-01-02")
        assert all_empty.count() == 0
        # a pushdown that prunes every item plans no partition; Spark then
        # reads the source once with None
        pruned = self._read(spark, resources="heart", start="2024-01-01",
                            end="2024-01-02").filter(F.col("resource") == "steps")
        assert pruned.count() == 0

    def test_workers_hold_no_archive_importers(self, spark):
        """After a read, a Python task that imports the engine package
        finds no cached zip importer and no jar on ``sys.path``: PySpark's
        per-task ``importlib.invalidate_caches()`` has no archive left to
        re-read."""
        assert self._read(spark, resources="heart", start="2024-01-01",
                          end="2024-01-04").count() == 4 * 24

        def probe(_):  # nested, so it pickles by value and imports nothing
            import sys
            import zipimport

            import fitness_data_ingest_spark  # noqa: F401

            yield (
                sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values()),
                [p for p in sys.path if str(p).endswith(".jar")],
            )

        n = spark.sparkContext.defaultParallelism
        seen = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
        assert seen == [(0, [])] * n


# --------------------------- end-to-end incremental ingestion pipeline


def test_incremental_ingestion_end_to_end(spark, tmp_path):
    """The reference's core loop (fitbit_utils.py:185-234), end to end on
    Spark: fetch grid -> partitioned sink -> manifest -> anti-join ->
    fetch ONLY missing days -> union'd sink; second run is a no-op."""
    from fitness_data_ingest_spark.ingest.datasource import RestDataSource
    from fitness_data_ingest_spark.ingest.incremental import pending_items, work_items
    from fitness_data_ingest_spark.io import file_manifest, write_partitioned
    from fitness_data_ingest_spark.ops.scalar import object_key

    spark.dataSource.register(RestDataSource)
    out = str(tmp_path / "intraday")
    resources = ("heart", "steps")

    def fetch(start, end):
        return (
            spark.read.format("fitness_rest")
            .option("resources", ",".join(resources))
            .option("start", start)
            .option("end", end)
            .load()
        )

    # day 1-5 ingested
    write_partitioned(fetch("2024-01-01", "2024-01-05"), out,
                      ["resource", "date"], mode="append")

    # manifest -> logical keys (partition path -> reference key layout)
    def logical_manifest():
        m = file_manifest(spark, out)
        return m.filter(F.col("Key").contains("resource=")).select(
            object_key(
                "intraday",
                F.regexp_extract("Key", r"resource=([^/]+)", 1),
                F.regexp_extract("Key", r"date=([^/]+)", 1),
            ).alias("Key")
        )

    # plan a 7-day window: only days 6-7 are pending
    work = work_items(spark, "2024-01-01", "2024-01-07", resources=resources)
    pending = pending_items(work, logical_manifest())
    pend_rows = pending.collect()
    assert len(pend_rows) == 4  # 2 resources x 2 missing days
    assert {r["date"] for r in pend_rows} == {"2024-01-06", "2024-01-07"}

    # fetch exactly the pending dates (pushdown prunes the work grid)
    missing_dates = sorted({r["date"] for r in pend_rows})
    fresh = fetch("2024-01-01", "2024-01-07").filter(
        F.col("date").isin(missing_dates)
    )
    # the pending dates are pushed to the source: 4 of 14 items planned
    from pyspark.sql.datasource import In

    plan = fresh._jdf.queryExecution().optimizedPlan().toString()
    assert "2024-01-06" not in plan
    opts = {"resources": ",".join(resources), "start": "2024-01-01", "end": "2024-01-07"}
    assert len(_planned_items(opts, In(("date",), tuple(missing_dates)))) == 4
    write_partitioned(fresh, out, ["resource", "date"], mode="append")

    # converged: nothing pending, sink complete and duplicate-free
    assert pending_items(work, logical_manifest()).count() == 0
    final = spark.read.parquet(out)
    assert final.count() == 2 * 7 * 24
    assert final.select("resource", "date", "time").distinct().count() == 2 * 7 * 24


def test_streaming_rest_source_exactly_once(spark, tmp_path):
    """Streaming face of the REST source: micro-batch ingestion with
    offset tracking. A checkpointed run drains all dates exactly once;
    a restart from the same checkpoint adds nothing."""
    from fitness_data_ingest_spark.ingest.datasource import RestStreamDataSource

    spark.dataSource.register(RestStreamDataSource)
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")

    def run_once():
        stream = (
            spark.readStream.format("fitness_rest_stream")
            .option("resources", "heart,steps")
            .option("start", "2024-01-01")
            .option("end", "2024-01-05")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    expect = 2 * 5 * 24
    got = spark.read.parquet(out)
    assert got.count() == expect
    run_once()  # restart: offsets say everything is consumed
    assert spark.read.parquet(out).count() == expect
    assert got.select("resource", "date", "time").distinct().count() == expect
