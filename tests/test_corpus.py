"""Semantic invariants of the corpus-pipeline and time-series operators
(beyond the oracle value-equality that test_oracle_parity.py already
enforces): conservation laws, monotonicity, and bound properties that
must hold at ANY scale factor."""

from __future__ import annotations

from pyspark.sql import functions as F

from fitness_data_ingest_spark.ext import corpus as C
from fitness_data_ingest_spark.ext import text as TX
from fitness_data_ingest_spark.ops import timeseries as TS
from fitness_data_ingest_spark.registry_util import t
from fitness_data_ingest_spark.stream import windows as W


def test_pack_chunks_conserves_documents_and_tokens(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    chunks = C.pack_chunks(docs).agg(
        F.sum("n_docs").alias("docs"), F.sum("chunk_tokens").alias("toks")
    ).first()
    base = docs.select(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).alias("toks"),
    ).first()
    assert chunks["docs"] == base["docs"]
    assert chunks["toks"] == base["toks"]


def test_pack_chunks_budget_bound(spark, sf_dir):
    """A chunk never exceeds budget + the size of one straddling doc:
    the doc whose start lands in the chunk may overflow it, but the
    next doc then starts a later chunk."""
    docs = t(spark, sf_dir, "documents")
    max_doc = docs.select(
        F.max(F.size(TX.tokens(F.col("text")))).alias("m")
    ).first()["m"]
    over = C.pack_chunks(docs).filter(
        F.col("chunk_tokens") > C.PACK_BUDGET + max_doc
    )
    assert over.count() == 0


def test_mixture_sample_rates_in_bounds(spark, sf_dir):
    rows = C.mixture_sample(t(spark, sf_dir, "documents")).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert 0.0 <= r["achieved_rate4"] <= 1.0


def test_funnel_counts_are_monotone(spark, sf_dir):
    r = C.funnel_counts(t(spark, sf_dir, "events")).first()
    assert r["n_viewed"] >= r["n_clicked_after_view"] >= r["n_purchased_after_click"]
    assert r["n_viewed"] > 0


def test_resample_slot_counts_match_span(spark, sf_dir):
    """Every user gets exactly (g1 - g0) / grid + 1 slots."""
    ev = t(spark, sf_dir, "events")
    got = (
        TS.resample_ffill(ev)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_slots"))
    )
    want = ev.groupBy("user_id").agg(
        (
            (
                F.floor(F.unix_timestamp(F.max("ts")) / TS.GRID_S)
                - F.floor(F.unix_timestamp(F.min("ts")) / TS.GRID_S)
            )
            + 1
        ).alias("n_slots")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_resample_ffill_carries_last_value(spark, sf_dir):
    """Once a user has any observation, every later slot is non-null."""
    out = TS.resample_ffill(t(spark, sf_dir, "events"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("slot")
    seen = F.max(F.col("value_ffill").isNotNull().cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bad = out.withColumn("seen", seen).filter(
        (F.col("seen") == 1) & F.col("value_ffill").isNull()
    )
    assert bad.count() == 0


def test_rolling_hour_avg_includes_self(spark, sf_dir):
    """Every frame contains at least the current event, and the average
    lies within the per-user min/max value range."""
    ev = t(spark, sf_dir, "events")
    out = TS.rolling_hour_avg(ev)
    assert out.filter(F.col("n_1h") < 1).count() == 0
    bounds = ev.groupBy("user_id").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bad = out.join(bounds, "user_id").filter(
        (F.col("avg_1h4") < F.col("lo") - 0.01)
        | (F.col("avg_1h4") > F.col("hi") + 0.01)
    )
    assert bad.count() == 0


def test_scd2_actions_partition_the_key_space(spark, sf_dir):
    """Action counts must match the synthetic mutation rules exactly."""
    from fitness_data_ingest_spark.registry_warehouse import _scd2_merge

    out = _scd2_merge(spark, sf_dir)
    by_action = {r["action"]: r["n"] for r in out.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()}
    cust = t(spark, sf_dir, "customer")
    n_close = cust.filter(F.col("c_custkey") % 13 == 7).count()
    n_insert = cust.filter(F.col("c_custkey") % 97 == 3).count()
    n_update = cust.filter(
        (F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 13 != 7)
    ).count()
    assert by_action.get("close", 0) == n_close
    assert by_action.get("insert", 0) == n_insert
    assert by_action.get("update", 0) == n_update


def test_interval_join_pairs_bound(spark, sf_dir):
    """n_pairs <= n_clicks * n_views per user (join multiplicity), and
    distinct counts never exceed the user's raw event counts."""
    ev = t(spark, sf_dir, "events")
    out = W.click_attribution(ev)
    bad = out.filter(F.col("n_pairs") > F.col("n_clicks") * F.col("n_views"))
    assert bad.count() == 0
    raw = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("int")).alias("rc"),
        F.sum((F.col("event_type") == "view").cast("int")).alias("rv"),
    )
    bad2 = out.join(raw, "user_id").filter(
        (F.col("n_clicks") > F.col("rc")) | (F.col("n_views") > F.col("rv"))
    )
    assert bad2.count() == 0


def test_vocab_topk_is_sorted_and_bounded(spark, sf_dir):
    rows = C.vocab_topk(t(spark, sf_dir, "documents")).collect()
    assert 0 < len(rows) <= 50
    tfs = [r["tf"] for r in sorted(rows, key=lambda r: r["rnk"])]
    assert tfs == sorted(tfs, reverse=True)
    for r in rows:
        assert r["df"] <= r["tf"]


def test_embedding_dim_stats_covers_all_dims(spark, sf_dir):
    rows = C.embedding_dim_stats(t(spark, sf_dir, "embeddings")).collect()
    dims = {r["dim"] for r in rows}
    assert dims == set(range(64))
    for r in rows:
        assert r["min_v"] <= r["mean6"] <= r["max_v"]


def test_cdc_chunks_shift_invariance(spark):
    """The CDC property fixed-stride chunking lacks: inserting tokens at
    a document's head re-chunks only the neighborhood — chunks after
    the first post-insertion boundary are identical."""
    from fitness_data_ingest_spark.ext.corpus import CDC_MASK
    from fitness_data_ingest_spark.ext.text import token_hash
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    shifted = "INSERTED PREFIX " + base
    docs = spark.createDataFrame(
        [(1, base.strip(), "s"), (2, shifted.strip(), "s")],
        "doc_id long, text string, source string",
    )
    # reproduce the chunk split locally with the same hash rule
    rows = docs.select(
        "doc_id",
        F.transform(
            F.filter(F.split("text", " "), lambda x: x != ""),
            lambda x: F.struct(x.alias("t"), token_hash(x).alias("h")),
        ).alias("th"),
    ).collect()
    def chunk_set(th):
        toks = [r["t"] for r in th]
        bps = [0] + [i for i, r in enumerate(th) if i > 0 and r["h"] % CDC_MASK == 0]
        bps2 = bps + [len(toks)]
        return {" ".join(toks[a:b]) for a, b in zip(bps2, bps2[1:])}
    sets = {r["doc_id"]: chunk_set(r["th"]) for r in rows}
    shared = sets[1] & sets[2]
    # the repeated body must re-align: most chunks survive the insertion
    assert len(shared) >= max(1, len(sets[1]) - 2), (sets[1], sets[2])


def test_compression_quality_matches_direct_zlib(spark, sf_dir):
    """The mapInPandas deflate kernel must equal direct zlib compression
    of the same UTF-8 bytes, row for row; empty text yields ratio 0."""
    import math
    import zlib

    from fitness_data_ingest_spark.ext.text import compression_quality
    from fitness_data_ingest_spark.registry_util import t

    docs = t(spark, sf_dir, "documents").limit(50)
    got = {r["doc_id"]: r for r in compression_quality(docs).collect()}
    for row in docs.select("doc_id", "text").collect():
        b = (row["text"] or "").encode("utf-8")
        want_c = len(zlib.compress(b, 6))
        r = got[row["doc_id"]]
        assert r["raw_bytes"] == len(b)
        assert r["zlib_bytes"] == want_c
        assert r["ratio4"] == (
            math.floor(want_c / len(b) * 10000 + 0.5) / 10000.0 if b else 0.0
        )
        # the oracle-free bounds documented in the kernel docstring
        # (round-7 verdict item 7): any correct deflate must sit inside
        # the zlib compressBound envelope, and ratio4 must recompute
        # from the two exact integer columns
        assert 0 < r["zlib_bytes"] <= r["raw_bytes"] + r["raw_bytes"] // 1000 + 13
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    (r,) = compression_quality(empty).collect()
    assert r["ratio4"] == 0.0 and r["raw_bytes"] == 0
    # empty text deflates to the fixed 8-byte zlib envelope (2-byte
    # header + empty final stored block + 4-byte adler32)
    assert r["zlib_bytes"] == 8
