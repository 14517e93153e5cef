"""Streaming-window keys (``window_*``, ``stream_*``), checked in batch
mode.

The window operators (``stream/windows.py``) are mode-agnostic: the
same transform runs on a static DataFrame (here, for the DuckDB oracle)
and on a watermarked readStream (tests/test_streaming.py). Oracles
express windows via epoch-grid arithmetic (origin-independent,
identical to Spark's epoch-aligned windows) and sessions via
gaps-and-islands SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .ops import relational as R
from .registry_util import QueryDef, cents, t
from .stream import windows as W


def _window_running_sum(spark, sf_dir):
    """Cumulative per-user analytics: running sum + lag delta over the
    event stream. Partitioned window (one shuffle on user_id, no global
    sort); ties broken by event_id so the frame is a total order and the
    oracle hash is deterministic."""
    ev = t(spark, sf_dir, "events").withColumn("value_c", cents(F.col("value")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        (F.sum("value_c").over(run) / 100.0).alias("running_value"),
        ((F.col("value_c") - F.lag("value_c", 1).over(w)) / 100.0).alias("delta_prev"),
    )


_WINDOW_RUNNING_SUM_SQL = """
SELECT user_id, event_id,
       sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
         AS running_value,
       (CAST(floor(value * 100 + 0.5) AS BIGINT)
        - lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1)
            OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 100.0
         AS delta_prev
FROM events
"""


def _window_rank_functions(spark, sf_dir):
    """Ranking-function family over one window: rank / dense_rank /
    ntile / percent_rank. Total order (value cents desc, user_id) makes
    every function engine-deterministic, including ntile tie placement."""
    ev = t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id", "event_type").agg(
        F.sum(cents(F.col("value"))).alias("total_c")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_c").desc(), F.col("user_id").asc()
    )
    return totals.select(
        "event_type",
        "user_id",
        (F.col("total_c") / 100.0).alias("total_value"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        (F.floor(F.percent_rank().over(w) * 10000 + 0.5) / 10000.0).alias("prank4"),
    )


_WINDOW_RANK_SQL = """
WITH totals AS (
  SELECT event_type, user_id,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS total_c
  FROM events GROUP BY event_type, user_id)
SELECT event_type, user_id, total_c / 100.0 AS total_value,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       floor(percent_rank() OVER w * 10000 + 0.5) / 10000.0 AS prank4
FROM totals
WINDOW w AS (PARTITION BY event_type ORDER BY total_c DESC, user_id ASC)
"""


def _window_row_number(spark, sf_dir):
    """A1 grouped — latest event per user via window row_number."""
    ev = t(spark, sf_dir, "events")
    latest = R.latest_per_group(ev, ["user_id"], "ts", "event_id")
    return latest.select(
        "user_id", "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s")
    )


def _window_tumbling(spark, sf_dir):
    """Tumbling 5-min windows (batch form of the streaming aggregate)."""
    return W.tumbling_counts(t(spark, sf_dir, "events"))


_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _bucket(sec: int, src: str = "ts") -> str:
    return f"CAST(floor(epoch({src}) / {sec}) AS BIGINT) * {sec}"


def _to_ts(expr: str) -> str:
    return f"TIMESTAMP '1970-01-01' + ({expr}) * INTERVAL 1 SECOND"


_CENTS_SUM = "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0"

_TUMBLING_SQL = f"""
SELECT strftime({_to_ts(_bucket(300))}, '{_TS_FMT}') AS window_start,
       event_type, count(*) AS n, {_CENTS_SUM} AS sum_value
FROM events GROUP BY 1, 2
"""


def _window_sliding(spark, sf_dir):
    """Sliding 10-min windows every 5 min — each event in 2 windows."""
    return W.sliding_counts(t(spark, sf_dir, "events"))


_SLIDING_SQL = f"""
WITH w AS (
  SELECT {_bucket(300)} - off AS wstart
  FROM events, (VALUES (0), (300)) o(off))
SELECT strftime({_to_ts('wstart')}, '{_TS_FMT}') AS window_start, count(*) AS n
FROM w GROUP BY wstart
"""


def _window_session(spark, sf_dir):
    """Per-user 30-min-gap session windows (F.session_window in batch)."""
    return W.session_stats(t(spark, sf_dir, "events"))


_SESSION_SQL = f"""
WITH x AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
y AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM x)
SELECT user_id,
       strftime(min(ts), '{_TS_FMT}') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '{_TS_FMT}') AS session_end,
       count(*) AS n_events, {_CENTS_SUM} AS sum_value
FROM y GROUP BY user_id, sid
"""


def _window_topk(spark, sf_dir):
    """Top-2 event types per 15-min tumbling window (trending items);
    streaming parity via foreachBatch ranking — see test_streaming."""
    return W.windowed_type_topk(t(spark, sf_dir, "events"))


_WINDOW_TOPK_SQL = f"""
WITH agg AS (
  SELECT {_bucket(900)} AS wstart, event_type, count(*) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY wstart
                               ORDER BY n DESC, event_type) AS rnk
  FROM agg)
SELECT strftime({_to_ts('wstart')}, '{_TS_FMT}') AS window_start,
       event_type, n, rnk
FROM r WHERE rnk <= 2
"""


def _stream_watermark_drop(spark, sf_dir):
    """Watermark late-data drop, micro-batch-faithful batch simulation
    — see stream/windows.watermark_drop_sim."""
    return W.watermark_drop_sim(t(spark, sf_dir, "events"))


# identical integer-micros arithmetic, relationally: jittered arrival
# hour = micro-batch; watermark for batch B = max event-us of batches
# < B minus 10 min; first batch unfiltered (NULL watermark)
_WATERMARK_DROP_SQL = f"""
WITH e AS (
  SELECT epoch_us(ts) AS us,
         (('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
          % 1800) * 1000000 AS jit_us
  FROM events),
b AS (SELECT us, (us + jit_us) // 3600000000 AS batch FROM e),
bm AS (SELECT batch, max(us) AS bmax_us FROM b GROUP BY batch),
wm AS (
  SELECT batch,
         max(bmax_us) OVER (ORDER BY batch
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - 600000000 AS wm_us
  FROM bm),
k AS (
  SELECT (b.us // 300000000) * 300 AS wstart_s,
         CASE WHEN wm.wm_us IS NULL OR b.us >= wm.wm_us THEN 1 ELSE 0 END AS kept
  FROM b JOIN wm USING (batch))
SELECT strftime({_to_ts('wstart_s')}, '{_TS_FMT}') AS window_start,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped
FROM k GROUP BY wstart_s
"""


def _stream_session_merge(spark, sf_dir):
    """Session-merge observability: per 30-min session, how many 5-min
    fragments merged — see stream/windows.session_merge_stats."""
    return W.session_merge_stats(t(spark, sf_dir, "events"))


_SESSION_MERGE_SQL = f"""
WITH x AS (
  SELECT user_id, ts, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us,
         event_id
  FROM events),
y AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
              THEN 1 ELSE 0 END AS new_s,
         CASE WHEN prev_us IS NULL OR us - prev_us >= 300000000
              THEN 1 ELSE 0 END AS new_frag
  FROM x),
z AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM y)
SELECT user_id, strftime(min(ts), '{_TS_FMT}') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(new_frag) AS BIGINT) AS n_fragments
FROM z GROUP BY user_id, sid
"""


def _stream_emit_finalized(spark, sf_dir):
    """Append-mode emission state per tumbling window — see
    stream/windows.emit_finalized_windows."""
    return W.emit_finalized_windows(t(spark, sf_dir, "events"))


_EMIT_FINALIZED_SQL = f"""
WITH a AS (
  SELECT (epoch_us(ts) // 300000000) * 300 AS wstart_s, count(*) AS n
  FROM events GROUP BY 1),
w AS (SELECT max(epoch_us(ts)) - 600000000 AS wm_us FROM events)
SELECT strftime({_to_ts('wstart_s')}, '{_TS_FMT}') AS window_start,
       CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN (wstart_s + 300) * 1000000 <= wm_us
                 THEN 1 ELSE 0 END AS INT) AS finalized
FROM a, w
"""


def _stream_interval_join(spark, sf_dir):
    """Batch form of the stream-stream interval join (the same operator
    runs on two watermarked streams — tests/test_streaming.py)."""
    return W.click_attribution(t(spark, sf_dir, "events"))


_INTERVAL_JOIN_SQL = """
WITH v AS (SELECT user_id, ts AS v_ts, event_id AS view_id FROM events
           WHERE event_type = 'view'),
c AS (SELECT user_id, ts AS c_ts, event_id AS click_id FROM events
      WHERE event_type = 'click'),
p AS (SELECT v.user_id, view_id, click_id
      FROM v JOIN c ON v.user_id = c.user_id
                   AND c.c_ts > v.v_ts
                   AND c.c_ts <= v.v_ts + INTERVAL 10 MINUTE)
SELECT user_id, count(*) AS n_pairs,
       count(DISTINCT click_id) AS n_clicks,
       count(DISTINCT view_id) AS n_views
FROM p GROUP BY user_id
"""


def _window_value_functions(spark, sf_dir):
    """Value-window family over one keyed window: first/last/nth value
    with an EXPLICIT whole-partition frame (the default frame stops at
    CURRENT ROW, which silently changes last_value), plus lead/lag.
    Total order via event_id tiebreak keeps every function
    engine-deterministic. Complements window_rank_functions (the
    ranking family) and window_running_sum (the frame family)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(full).alias("first_type"),
        F.last("event_type").over(full).alias("last_type"),
        F.nth_value("event_type", 2).over(full).alias("second_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
    )


_WINDOW_VALUE_SQL = """
SELECT user_id, event_id,
       first_value(event_type) OVER wf AS first_type,
       last_value(event_type) OVER wf AS last_type,
       nth_value(event_type, 2) OVER wf AS second_type,
       lead(event_type) OVER w AS next_type,
       lag(event_type) OVER w AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wf AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ------------------------------------------- WATERMARK LATENESS SWEEP

# Candidate watermark delays (seconds) for the tuning sweep.
WM_SWEEP = (0, 60, 300, 900, 3600)


def lateness_sweep(events):
    """Watermark tuning report: treating ``event_id`` as the arrival
    order (the ingest sequence), an event is LATE by the amount the
    per-user stream has already advanced past its timestamp when it
    arrives. For each candidate watermark delay W the report counts the
    events a streaming job with ``withWatermark(W)`` would drop — the
    curve that picks W (stream/windows.py consumes the chosen value).
    All lateness arithmetic is exact integer microseconds.

    Scale shape: ONE user-partitioned running-max window in arrival
    order (the sessionize discipline — never a global window), then a
    |sweep|-way in-place explode + one map-side-combinable groupBy on
    the threshold. No joins."""
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = events.select(
        "user_id", "event_id", (F.max(us).over(w) - us).alias("late_us")
    )
    thr = F.explode(F.array(*[F.lit(v) for v in WM_SWEEP])).alias("w_seconds")
    return (
        late.select("late_us", thr)
        .groupBy("w_seconds")
        .agg(
            F.sum(
                F.when(
                    F.col("late_us")
                    > F.col("w_seconds").cast("long") * 1_000_000,
                    1,
                ).otherwise(0)
            ).alias("n_dropped"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "w_seconds",
            "n_dropped",
            (
                F.floor(
                    F.col("n_dropped").cast("double") / F.col("n_total") * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("pct_dropped4"),
        )
        .orderBy("w_seconds")
    )


def _stream_lateness_sweep(spark, sf_dir):
    return lateness_sweep(t(spark, sf_dir, "events"))


_WM_LIST = "[" + ", ".join(str(v) for v in WM_SWEEP) + "]"

_LATENESS_SQL = f"""
WITH l AS (
  SELECT user_id, event_id,
         max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING)
           - epoch_us(ts) AS late_us
  FROM events
),
sw AS (SELECT late_us, unnest({_WM_LIST}) AS w_seconds FROM l)
SELECT CAST(w_seconds AS INT) AS w_seconds,
       CAST(count(*) FILTER (WHERE late_us > CAST(w_seconds AS BIGINT) * 1000000) AS BIGINT)
         AS n_dropped,
       floor(CAST(count(*) FILTER (WHERE late_us > CAST(w_seconds AS BIGINT) * 1000000)
                  AS DOUBLE) / count(*) * 10000 + 0.5) / 10000.0
         AS pct_dropped4
FROM sw GROUP BY w_seconds ORDER BY w_seconds
"""

DEDUP_DELAY_S = 1800  # dropDuplicatesWithinWatermark horizon


def dedup_within_delay(events, delay_s: int = DEDUP_DELAY_S):
    """Batch restatement of ``dropDuplicatesWithinWatermark`` semantics
    (the streaming run is pytest-verified against this): per
    (user_id, event_type) key, an event is KEPT iff it starts a new
    epoch — the first event, or the first more than ``delay_s`` after
    the previously KEPT one.  That recurrence is inherently sequential
    per key, so it folds INSIDE an array HOF over the key's sorted
    event times (state bounded per key, zero extra shuffles) — the
    same in-array discipline as corpus_cdc_chunks.

    Output: per event_type, total events, keys, kept, dropped — the
    dedup-rate audit a streaming pipeline reports per sink table."""
    per_key = (
        events.select(
            "user_id",
            "event_type",
            F.expr("unix_micros(ts) div 1000000").alias("sec"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sort_array(F.collect_list("sec")).alias("arr"),
        )
    )
    init = F.struct(
        F.lit(-(2**50)).cast("long").alias("last"),
        F.lit(0).cast("long").alias("cnt"),
    )
    kept = F.aggregate(
        F.col("arr"),
        init,
        lambda acc, x: F.when(
            x > acc.last + delay_s,
            F.struct(x.alias("last"), (acc.cnt + 1).alias("cnt")),
        ).otherwise(acc),
    ).cnt
    flagged = per_key.select(
        "event_type", "n_events", kept.alias("n_kept")
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_kept").alias("n_kept"),
            (F.sum("n_events") - F.sum("n_kept")).alias("n_dropped"),
        )
        .orderBy("event_type")
    )


def _stream_dedup_late(spark, sf_dir):
    return dedup_within_delay(t(spark, sf_dir, "events"))


# DuckDB's list_reduce takes no init value, so the fold state
# (last_kept_rel, cnt) packs into ONE BIGINT: cnt << 34 | rel_sec,
# with rel = sec - first + delay + 1 > delay so the sentinel 0 always
# keeps the first event.  34 bits of rel covers ~540 years.
_DEDUP_SQL = f"""
WITH per_key AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
         list_sort(list(epoch_us(ts) // 1000000)) AS arr
  FROM events GROUP BY 1, 2
),
folded AS (
  SELECT event_type, n_events,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(arr, x -> x - arr[1] + {DEDUP_DELAY_S} + 1)),
           (acc, x) -> CASE WHEN x > (acc & {(1 << 34) - 1}) + {DEDUP_DELAY_S}
                            THEN (((acc >> 34) + 1) << 34) | x
                            ELSE acc END
         ) >> 34 AS n_kept
  FROM per_key
)
SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n_kept) AS BIGINT) AS n_kept,
       CAST(sum(n_events) - sum(n_kept) AS BIGINT) AS n_dropped
FROM folded GROUP BY event_type ORDER BY event_type
"""


RANGE_FRAME_S = 3600  # trailing window width (seconds)

RANGE_MOD = 17  # output subset (window computed on ALL rows first)


def range_frame_trailing(events, width_s: int = RANGE_FRAME_S, mod: int = RANGE_MOD):
    """Per-user trailing-hour aggregate via a true RANGE window frame
    (``RANGE BETWEEN width PRECEDING AND CURRENT ROW`` over integer
    event-seconds) — the value-based frame SQL surface the window
    family hadn't covered (rank/row/value function keys use ROWS
    frames).  Tie semantics are the RANGE peer rule: same-second
    events of one user see each other's values, identically in both
    engines because the ordering key is an exact int64.

    Scale shape: the window partitions by user (natural parallelism —
    no user's history outgrows a partition at any corpus scale since
    per-user event counts are product-bounded); the output subset
    filter applies AFTER the frame so every row's trailing sum is
    over the full history."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-width_s, 0)
    )
    base = events.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
        cents(F.col("value")).alias("c"),
    )
    framed = base.select(
        "event_id",
        "user_id",
        F.sum("c").over(w).alias("sum_1h_c"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )
    return framed.where(F.pmod(F.col("event_id"), F.lit(mod)) == 0).orderBy(
        "event_id"
    )


def _window_range_frame(spark, sf_dir):
    return range_frame_trailing(t(spark, sf_dir, "events"))


_RANGE_FRAME_SQL = f"""
WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
framed AS (
  SELECT event_id, user_id,
         CAST(sum(c) OVER (PARTITION BY user_id ORDER BY sec
              RANGE BETWEEN {RANGE_FRAME_S} PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sum_1h_c,
         CAST(count(*) OVER (PARTITION BY user_id ORDER BY sec
              RANGE BETWEEN {RANGE_FRAME_S} PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_1h
  FROM base
)
SELECT * FROM framed WHERE event_id % {RANGE_MOD} = 0 ORDER BY event_id
"""


STREAM_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("window_running_sum", _window_running_sum, _WINDOW_RUNNING_SUM_SQL),
        QueryDef("window_rank_functions", _window_rank_functions, _WINDOW_RANK_SQL),
        QueryDef(
            "window_row_number",
            _window_row_number,
            """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
               FROM events
               QUALIFY row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id ASC) = 1""",
        ),
        QueryDef("window_tumbling", _window_tumbling, _TUMBLING_SQL),
        QueryDef("window_sliding", _window_sliding, _SLIDING_SQL),
        QueryDef("window_session", _window_session, _SESSION_SQL),
        QueryDef("window_topk", _window_topk, _WINDOW_TOPK_SQL),
        QueryDef("stream_watermark_drop", _stream_watermark_drop, _WATERMARK_DROP_SQL),
        QueryDef("stream_session_merge", _stream_session_merge, _SESSION_MERGE_SQL),
        QueryDef("stream_emit_finalized", _stream_emit_finalized, _EMIT_FINALIZED_SQL),
        QueryDef("stream_interval_join", _stream_interval_join, _INTERVAL_JOIN_SQL),
        QueryDef("window_value_functions", _window_value_functions, _WINDOW_VALUE_SQL),
        QueryDef("stream_lateness_sweep", _stream_lateness_sweep, _LATENESS_SQL),
        QueryDef("stream_dedup_late", _stream_dedup_late, _DEDUP_SQL),
        QueryDef("window_range_frame", _window_range_frame, _RANGE_FRAME_SQL),
    )
}
