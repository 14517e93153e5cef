"""Event analytics, time series and feature engineering: sessions,
funnels, cohorts, retention, A/B readouts, attribution, anomaly and
change-point detection (``events_*``), resampling, smoothing,
forecasting and seasonality (``ts_*``), and model-input features
(``feature_*``).

Exactness follows the house rules of ``registry_util``: epoch
micros and cents are int64, every exported float is one IEEE expression
over exact int64 casts, quantized per term before any cross-row sum,
and every window carries a (key, id) total order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .ext import corpus as C
from .ext.text import token_hash
from .ops import scalar as SCL
from .ops import timeseries as TS
from .ops.scale import distributed_rank, truncate_lineage
from .registry_util import OVERLAP_SPAN_S, QueryDef, cents, round2, t


# ------------------------------------------------------ scalar functions


def _ts_concat_parse(spark, sf_dir):
    """F1+F13 — date-string + time-of-day → timestamp
    (fitbit_utils.py:382-386)."""
    ev = t(spark, sf_dir, "events")
    parsed = SCL.ts_from_date_and_time(SCL.date_str(F.col("ts")), SCL.time_of_day_str(F.col("ts")))
    return ev.select(
        "event_id", F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("ts_rebuilt")
    )


def _events_anomaly_zscore(spark, sf_dir):
    return C.anomaly_zscore(t(spark, sf_dir, "events"))


_ANOMALY_SQL = """
WITH per AS (SELECT event_type,
                    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
             FROM events),
mom AS (SELECT event_type, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS sq
        FROM per GROUP BY 1),
j AS (SELECT per.event_type, c, n, sc, sq FROM per JOIN mom USING (event_type)),
f AS (SELECT event_type, n, sc, sq,
             CASE WHEN CAST(c * n - sc AS DOUBLE) * CAST(c * n - sc AS DOUBLE)
                       > 9.0 * CAST(n * sq - sc * sc AS DOUBLE)
                  THEN 1 ELSE 0 END AS flag
      FROM j)
SELECT event_type, max(n) AS n, CAST(sum(flag) AS BIGINT) AS n_outliers,
       floor((CAST(max(sc) AS DOUBLE) / max(n) / 100.0) * 1e4 + 0.5) / 1e4
         AS mean4,
       floor((sqrt(CAST(max(n) * max(sq) - max(sc) * max(sc) AS DOUBLE)
                   / CAST(max(n) * max(n) AS DOUBLE)) / 100.0) * 1e4 + 0.5) / 1e4
         AS std4
FROM f GROUP BY event_type
"""


def _events_funnel(spark, sf_dir):
    return C.funnel_counts(t(spark, sf_dir, "events"))


_FUNNEL_SQL = """
WITH a AS (SELECT user_id, event_type, ts,
                  min(CASE WHEN event_type = 'view' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
           FROM events),
b AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                    OVER (PARTITION BY user_id) AS t2
      FROM a),
c AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                    OVER (PARTITION BY user_id) AS t3
      FROM b),
u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      FROM c GROUP BY user_id)
SELECT count(t1) AS n_viewed, count(t2) AS n_clicked_after_view,
       count(t3) AS n_purchased_after_click
FROM u
"""


def _ts_resample_ffill(spark, sf_dir):
    return TS.resample_ffill(t(spark, sf_dir, "events"))


_RESAMPLE_SQL = f"""
WITH obs AS (SELECT user_id, epoch_us(ts) AS ord_us, 1 AS is_obs, value AS v,
                    event_id AS eid, CAST(NULL AS BIGINT) AS gs FROM events),
b AS (SELECT user_id,
             CAST(floor(epoch(min(ts)) / {TS.GRID_S}) * {TS.GRID_S} AS BIGINT) AS g0,
             CAST(floor(epoch(max(ts)) / {TS.GRID_S}) * {TS.GRID_S} AS BIGINT) AS g1
      FROM events GROUP BY user_id),
grid AS (SELECT user_id, unnest(range(g0, g1 + {TS.GRID_S}, {TS.GRID_S})) AS gs
         FROM b),
g2 AS (SELECT user_id, gs * 1000000 AS ord_us, 0 AS is_obs,
              CAST(NULL AS DOUBLE) AS v, CAST(-1 AS BIGINT) AS eid, gs FROM grid),
u AS (SELECT * FROM obs UNION ALL SELECT * FROM g2),
f AS (SELECT *, last_value(v IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ord_us, is_obs DESC, eid
        ROWS UNBOUNDED PRECEDING) AS value_ffill FROM u)
SELECT user_id,
       strftime(TIMESTAMP '1970-01-01' + gs * INTERVAL 1 SECOND,
                '%Y-%m-%d %H:%M:%S') AS slot,
       value_ffill
FROM f WHERE is_obs = 0
"""


def _ts_rolling_hour_avg(spark, sf_dir):
    return TS.rolling_hour_avg(t(spark, sf_dir, "events"))


_ROLLING_SQL = """
WITH s AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events)
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       floor((CAST(sum(c) OVER w AS DOUBLE) / count(*) OVER w / 100.0) * 1e4 + 0.5)
         / 1e4 AS avg_1h4
FROM s
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def _events_retention_cohort(spark, sf_dir):
    """Weekly cohort retention matrix: cohort from a min window over the
    user partitioning (one shuffle, no self-join)."""
    return C.retention_cohort(t(spark, sf_dir, "events"))


_RETENTION_SQL = """
WITH w AS (SELECT user_id,
                  CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
           FROM events),
c AS (SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY 1),
j AS (SELECT w.user_id, cohort_wk, wk - cohort_wk AS weeks_since
      FROM w JOIN c USING (user_id))
SELECT cohort_wk, weeks_since, count(DISTINCT user_id) AS n_active
FROM j GROUP BY 1, 2
"""


def _feature_quantile_bin(spark, sf_dir):
    """Equi-depth feature binning (the discretization step of a
    large-scale feature pipeline): per-group quartile thresholds from
    the scale-safe sort+rank selection (`ops/scale.exact_quantiles` —
    constant memory per task, identical values to quantile_cont), then
    the thresholds broadcast back over the fact scan and every row maps
    to its bin with a codegen'd CASE — one stats pass + one binning
    pass, no per-group buffering anywhere. Output: per-(group, bin)
    volume and exact money sum. At 100 TB the stats pass is the
    standard candidate for sampling/sketching; the binning pass shape
    is unchanged."""
    from .ops.scale import exact_quantiles
    from .registry_util import money_sum

    li = t(spark, sf_dir, "lineitem")
    qres = exact_quantiles(li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.75])
    thr = (
        qres.groupBy("l_returnflag")
        .pivot("q", [0.25, 0.5, 0.75])
        .agg(F.first("quantile"))
        .withColumnRenamed("0.25", "t25")
        .withColumnRenamed("0.5", "t50")
        .withColumnRenamed("0.75", "t75")
    )
    x = F.col("l_extendedprice")
    binned = li.join(F.broadcast(thr), "l_returnflag").withColumn(
        "bin",
        F.when(x <= F.col("t25"), 0)
        .when(x <= F.col("t50"), 1)
        .when(x <= F.col("t75"), 2)
        .otherwise(3),
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


_QUANTILE_BIN_SQL = """
WITH thr AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.25) AS t25,
         quantile_cont(l_extendedprice, 0.5)  AS t50,
         quantile_cont(l_extendedprice, 0.75) AS t75
  FROM lineitem GROUP BY 1)
SELECT li.l_returnflag,
       CASE WHEN l_extendedprice <= t25 THEN 0
            WHEN l_extendedprice <= t50 THEN 1
            WHEN l_extendedprice <= t75 THEN 2
            ELSE 3 END AS bin,
       count(*) AS n_rows,
       sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
         AS sum_price
FROM lineitem li JOIN thr ON li.l_returnflag = thr.l_returnflag
GROUP BY 1, 2
"""


def _events_key_skew(spark, sf_dir):
    """Join-key skew profile (the diagnostic that decides between a
    plain shuffle join, AQE skew split, and `ops/scale.salted_join`):
    per event_type — row volume, distinct keys, the hottest key's row
    count and share, and the mean rows/key. One shuffled aggregate at
    (type, key) grain, then a keyed argmax rollup (max_by struct, no
    window) — the profile is computable at any scale because nothing
    ever buffers a key group."""
    ev = t(spark, sf_dir, "events")
    per_key = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_key.groupBy("event_type").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("hot_rows"),
        F.max_by("user_id", F.struct(F.col("n"), (-F.col("user_id")).alias("u"))).alias(
            "hot_key"
        ),
        (
            F.floor(
                F.max("n").cast("double") / F.sum("n") * 1000000 + 0.5
            )
            / 1000000.0
        ).alias("hot_share6"),
        (
            round2(F.sum("n").cast("double") / F.count(F.lit(1)))
        ).alias("mean_rows_per_key2"),
    )


_KEY_SKEW_SQL = """
WITH per AS (SELECT event_type, user_id, count(*) AS n
             FROM events GROUP BY 1, 2),
agg AS (SELECT event_type,
               CAST(sum(n) AS BIGINT) AS n_rows,
               count(*) AS n_keys,
               max(n) AS hot_rows,
               floor(CAST(max(n) AS DOUBLE) / sum(n) * 1000000 + 0.5)
                 / 1000000.0 AS hot_share6,
               floor(CAST(sum(n) AS DOUBLE) / count(*) * 100 + 0.5) / 100.0
                 AS mean_rows_per_key2
        FROM per GROUP BY event_type),
hot AS (SELECT event_type, user_id AS hot_key
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY n DESC, user_id) AS rn
              FROM per)
        WHERE rn = 1)
SELECT agg.event_type, n_rows, n_keys, hot_rows, hot_key, hot_share6,
       mean_rows_per_key2
FROM agg JOIN hot ON agg.event_type = hot.event_type
"""


def _events_gap_stats(spark, sf_dir):
    """Inter-arrival gap profile per user (the session-gap calibration
    pass: what gap threshold splits sessions?): per-user event count,
    mean/max gap seconds, and share of gaps above the 30-min session
    cutoff. One keyed window (lag over user partition, total order via
    event_id tiebreak) + one aggregate — gaps are integral seconds so
    every stat is exact until the final mirrored rounding."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds: unix_timestamp() truncates to seconds
    # while DuckDB's epoch-cast rounds — µs on both sides is drift-free
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w))
    gapped = ev.select("user_id", gap.alias("gap_us"))
    return gapped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
        (
            round2(F.sum("gap_us").cast("double") / F.count("gap_us") / 1e6)
        ).alias("mean_gap_s2"),
        F.sum(
            F.when(F.col("gap_us") > 1800 * 1000000, 1).otherwise(0)
        ).alias("n_session_breaks"),
    )


_GAP_STATS_SQL = """
WITH g AS (SELECT user_id,
                  epoch_us(ts)
                  - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)) AS gap_us
           FROM events)
SELECT user_id,
       count(*) AS n_events,
       count(gap_us) AS n_gaps,
       max(gap_us) AS max_gap_us,
       floor(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1e6 * 100 + 0.5)
         / 100.0 AS mean_gap_s2,
       CAST(sum(CASE WHEN gap_us > 1800 * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_session_breaks
FROM g
GROUP BY user_id
"""


def _events_transition_matrix(spark, sf_dir):
    """Event-type transition matrix (the Markov-chain view of user
    behavior): count consecutive (prev_type -> type) pairs per user
    stream, plus each transition's share of its source row. One keyed
    lag window (total order via event_id tiebreak), one aggregate at
    (from, to) grain, then the row totals come from a keyed window SUM
    over the |types|²-row counts table — a join-back would rescan the
    fact (Spark reuses no subplan without an exchange), so the window
    keeps the whole operator at ONE events scan; its partitions hold at
    most |types| rows at any event volume."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type", 1).over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_n = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (
            F.floor(F.col("n").cast("double") / row_n * 1000000 + 0.5)
            / 1000000.0
        ).alias("share6"),
    )


_TRANSITION_SQL = """
WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS from_type,
                  event_type AS to_type
           FROM events),
c AS (SELECT from_type, to_type, count(*) AS n
      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
r AS (SELECT from_type, sum(n) AS row_n FROM c GROUP BY 1)
SELECT c.from_type, to_type, n,
       floor(CAST(n AS DOUBLE) / row_n * 1000000 + 0.5) / 1000000.0 AS share6
FROM c JOIN r ON c.from_type = r.from_type
"""


def _events_hour_heatmap(spark, sf_dir):
    """Activity heatmap at (day-of-week x hour-of-day) grain — the
    seasonality fingerprint ops dashboards draw. ISO day numbering on
    both engines; one shuffled aggregate over a 7x24-bounded key
    domain (map-side partials collapse almost everything)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


_HOUR_HEATMAP_SQL = """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS hod,
       count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


# ------------------------------------------------ MAX-AREA DOWNSAMPLE


def _ts_downsample_maxarea(spark, sf_dir):
    """LTTB-family visual decimation: per (user, 6h bucket) keep the
    point subtending the largest triangle vs neighbor-bucket centroids;
    integer cross-products (scaled by n0^2*n2) keep the argmax and the
    value hash engine-exact."""
    return TS.downsample_maxarea(t(spark, sf_dir, "events"))


_DOWNSAMPLE_SQL = """
WITH pts AS (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc,
         (epoch_us(ts) // 1000000) // 21600 AS b
  FROM events),
agg AS (SELECT user_id, b, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(es - b*21600) AS BIGINT) AS sx,
               CAST(sum(yc) AS BIGINT) AS sy
        FROM pts GROUP BY 1, 2),
cand AS (
  SELECT p.user_id, p.b, p.event_id,
         abs( ( (p.es - (p.b-1)*21600) * a0.n - (a0.sx + a0.n*21600) )
              * ( a2.sy * a0.n - a0.sy * a2.n )
            - ( (a2.sx + a2.n*3*21600) * a0.n - (a0.sx + a0.n*21600) * a2.n )
              * ( p.yc * a0.n - a0.sy ) ) AS area
  FROM pts p
  JOIN agg a0 ON a0.user_id = p.user_id AND a0.b = p.b - 1
  JOIN agg a2 ON a2.user_id = p.user_id AND a2.b = p.b + 1)
SELECT user_id, b, rep_id, area_scaled FROM (
  SELECT user_id, b, event_id AS rep_id, CAST(area AS BIGINT) AS area_scaled,
         row_number() OVER (PARTITION BY user_id, b
                            ORDER BY area DESC, event_id ASC) AS rn
  FROM cand) WHERE rn = 1
"""


# ------------------------------------------------------------ SESSIONIZE


def _events_sessionize(spark, sf_dir):
    """Batch sessionization of the events stream (30-min gap rule) —
    the batch twin of the streaming span-merge sessionizer."""
    return TS.sessionize(t(spark, sf_dir, "events"))


_SESSIONIZE_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
l AS (
  SELECT *, lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS pes
  FROM e),
s AS (
  SELECT user_id, es, c,
         CAST(sum(CASE WHEN pes IS NULL OR es - pes > {TS.SESSION_GAP_S}
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY es, event_id
                    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS sess_id
  FROM l)
SELECT user_id, sess_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(es) - min(es) AS BIGINT) AS dur_s,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM s GROUP BY 1, 2
"""


# ------------------------------------------------------------------ EWMA


def _ts_ewma(spark, sf_dir):
    """Truncated-EWMA smoothing of each user's value series (depth 16,
    alpha 1/4, integer weights)."""
    return TS.ewma_trunc(t(spark, sf_dir, "events"))


def _ewma_sql() -> str:
    ws = TS.EWMA_WEIGHTS
    lag_cols = ", ".join(
        ["c AS c0"]
        + [f"lag(c, {k}) OVER w AS c{k}" for k in range(1, len(ws))]
    )
    num = " + ".join(
        [f"c0 * {ws[0]}"]
        + [
            f"CASE WHEN c{k} IS NOT NULL THEN c{k} * {ws[k]} ELSE 0 END"
            for k in range(1, len(ws))
        ]
    )
    den = " + ".join(
        [f"{ws[0]}"]
        + [
            f"CASE WHEN c{k} IS NOT NULL THEN {ws[k]} ELSE 0 END"
            for k in range(1, len(ws))
        ]
    )
    n_terms = " + ".join(
        ["1"]
        + [
            f"CASE WHEN c{k} IS NOT NULL THEN 1 ELSE 0 END"
            for k in range(1, len(ws))
        ]
    )
    return f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
l AS (
  SELECT event_id, user_id, {lag_cols}
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id))
SELECT event_id, user_id, CAST({n_terms} AS BIGINT) AS n_terms,
       floor(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) / 100.0
             * 10000 + 0.5) / 10000.0 AS ewma4
FROM l
"""


# ------------------------------------------------------------------ RFM


def _events_rfm_segment(spark, sf_dir):
    """RFM segmentation: per-user recency/frequency/monetary metrics,
    each quintiled by exact rank (distributed_rank — range-partitioned,
    no partition-less window), segment occupancy counts. The reference
    epoch is the corpus max event time, so the query is deterministic
    and re-runnable."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        cents(F.col("value")).alias("c"),
    )
    u0 = ev.groupBy("user_id").agg(
        F.max("es").alias("last_es"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("c").alias("mon_c"),
    )
    # the user-grain RFM table feeds the reference epoch, the min/max
    # stats row, and THREE chained distributed_rank passes (each
    # referencing its input twice) — without truncation the events scan
    # + user aggregate re-derived 2^3 times (32 parquet scans in one
    # plan, r11). The stored grain is one row per user — the reduced
    # grain a production pipeline would stage before ranking.
    u0 = truncate_lineage(u0)
    ref = u0.agg(F.max("last_es").alias("ref_es"))
    u = u0.crossJoin(F.broadcast(ref)).withColumn(
        "r_days", F.expr("(ref_es - last_es) div 86400")
    )
    stats = u.agg(
        F.min("r_days").alias("r_mn"),
        F.max("r_days").alias("r_mx"),
        F.min("freq").alias("f_mn"),
        F.max("freq").alias("f_mx"),
        F.min("mon_c").alias("m_mn"),
        F.max("mon_c").alias("m_mx"),
        F.count(F.lit(1)).alias("nu"),
    )
    B = 64
    staged = u.crossJoin(F.broadcast(stats))
    for pre, col in (("r", "r_days"), ("f", "freq"), ("m", "mon_c")):
        staged = staged.withColumn(
            f"{pre}_bkt",
            F.expr(
                f"({col} - {pre}_mn) div (({pre}_mx - {pre}_mn) div {B} + 1)"
            ).cast("int"),
        )
    ranked = staged
    for pre, col in (("r", "r_days"), ("f", "freq"), ("m", "mon_c")):
        ranked = distributed_rank(
            ranked,
            [(col, "asc"), ("user_id", "asc")],
            f"{pre}_bkt",
            n_buckets=B,
            rank_name=f"{pre}_rnk",
        )
    seg = ranked.select(
        F.expr("((r_rnk - 1) * 5) div nu").alias("r_seg"),
        F.expr("((f_rnk - 1) * 5) div nu").alias("f_seg"),
        F.expr("((m_rnk - 1) * 5) div nu").alias("m_seg"),
    )
    return seg.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_RFM_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
u0 AS (SELECT user_id, max(es) AS last_es,
              CAST(count(*) AS BIGINT) AS freq,
              CAST(sum(c) AS BIGINT) AS mon_c
       FROM e GROUP BY 1),
ref AS (SELECT max(last_es) AS ref_es FROM u0),
u AS (SELECT user_id, CAST((ref_es - last_es) // 86400 AS BIGINT) AS r_days,
             freq, mon_c
      FROM u0, ref),
n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u),
rk AS (SELECT user_id, r_days, freq, mon_c,
              row_number() OVER (ORDER BY r_days ASC, user_id) AS rr,
              row_number() OVER (ORDER BY freq ASC, user_id) AS fr,
              row_number() OVER (ORDER BY mon_c ASC, user_id) AS mr
       FROM u)
SELECT CAST(((rr - 1) * 5) // nu AS BIGINT) AS r_seg,
       CAST(((fr - 1) * 5) // nu AS BIGINT) AS f_seg,
       CAST(((mr - 1) * 5) // nu AS BIGINT) AS m_seg,
       CAST(count(*) AS BIGINT) AS n_users
FROM rk, n GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------- STREAKS


def _events_streak_islands(spark, sf_dir):
    """Per-user consecutive-active-day streaks (gaps and islands)."""
    return TS.activity_streaks(t(spark, sf_dir, "events"))


_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         (epoch_us(ts) // 1000000) // 86400 AS dnum
  FROM events),
isl AS (
  SELECT user_id, dnum,
         dnum - row_number() OVER (PARTITION BY user_id ORDER BY dnum)
           AS island
  FROM days),
islands AS (
  SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
         min(dnum) AS start_day
  FROM isl GROUP BY 1, 2)
SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(len) AS BIGINT) AS best_len,
       CAST(min(CASE WHEN len = ml THEN start_day END) AS BIGINT)
         AS best_start
FROM (SELECT *, max(len) OVER (PARTITION BY user_id) AS ml FROM islands)
GROUP BY 1
"""


# ------------------------------------------------------------------ CUSUM


def _events_cusum_alerts(spark, sf_dir):
    """Per-user CUSUM drift alarms via the exact two-window closed form
    of the reset recurrence."""
    return TS.cusum_alerts(t(spark, sf_dir, "events"))


_CUSUM_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
m AS (SELECT user_id, CAST(sum(c) // count(*) AS BIGINT) AS k
      FROM e GROUP BY 1),
p AS (
  SELECT e.user_id, e.event_id, e.es, e.c,
         CAST(sum(e.c - m.k) OVER (PARTITION BY e.user_id
                                   ORDER BY e.es, e.event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS pfx
  FROM e JOIN m ON m.user_id = e.user_id),
s AS (
  SELECT user_id, event_id, es,
         pfx - least(CAST(0 AS BIGINT),
                     min(pfx) OVER (PARTITION BY user_id
                                    ORDER BY es, event_id
                                    ROWS UNBOUNDED PRECEDING)) AS sv
  FROM p),
x AS (
  SELECT user_id, sv,
         lag(sv) OVER (PARTITION BY user_id ORDER BY es, event_id) AS psv
  FROM s)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN sv > {TS.CUSUM_H_CENTS}
                      AND (psv IS NULL OR psv <= {TS.CUSUM_H_CENTS})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
       CAST(max(sv) AS BIGINT) AS max_s
FROM x GROUP BY 1
"""


# ------------------------------------------------------ FORECAST BACKTEST


def _events_forecast_backtest(spark, sf_dir):
    """Seasonal-profile forecast backtest: train on the first 3/4 of
    the time span, predict each test event's value from the user's
    hour-of-day train profile (integer-cents mean; fallbacks: user
    mean, then global mean), report per-user MAE — the evaluation loop
    of any demand/load forecaster, on exact integers."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.hour("ts").alias("hod"),
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        cents(F.col("value")).alias("c"),
    )
    bounds = ev.agg(
        F.min("es").alias("mn"), F.max("es").alias("mx")
    ).select(
        (F.col("mn") + F.expr("(mx - mn) * 3 div 4")).alias("cutoff")
    )
    e = ev.crossJoin(F.broadcast(bounds))
    train = e.filter(F.col("es") < F.col("cutoff"))
    test = e.filter(F.col("es") >= F.col("cutoff"))
    prof = train.groupBy("user_id", "hod").agg(
        F.expr("sum(c) div count(*)").alias("p_uh")
    )
    umean = train.groupBy("user_id").agg(
        F.expr("sum(c) div count(*)").alias("p_u")
    )
    gmean = train.agg(F.expr("sum(c) div count(*)").alias("p_g"))
    scored = (
        test.join(prof, ["user_id", "hod"], "left")
        .join(umean, "user_id", "left")
        .crossJoin(F.broadcast(gmean))
        .withColumn(
            "err",
            F.abs(
                F.col("c")
                - F.coalesce(F.col("p_uh"), F.col("p_u"), F.col("p_g"))
            ),
        )
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum("err").alias("sum_abs_err"),
        (
            F.floor(
                F.sum("err").cast("double")
                / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            ).cast("long")
        ).alias("mae_cents"),
    )


_FORECAST_SQL = """
WITH ev AS (
  SELECT user_id, CAST(hour(ts) AS INT) AS hod,
         epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
b AS (SELECT min(es) + ((max(es) - min(es)) * 3) // 4 AS cutoff FROM ev),
train AS (SELECT ev.* FROM ev, b WHERE es < cutoff),
test AS (SELECT ev.* FROM ev, b WHERE es >= cutoff),
prof AS (SELECT user_id, hod, CAST(sum(c) // count(*) AS BIGINT) AS p_uh
         FROM train GROUP BY 1, 2),
um AS (SELECT user_id, CAST(sum(c) // count(*) AS BIGINT) AS p_u
       FROM train GROUP BY 1),
gm AS (SELECT CAST(sum(c) // count(*) AS BIGINT) AS p_g FROM train),
scored AS (
  SELECT t.user_id,
         abs(t.c - COALESCE(p.p_uh, u.p_u, g.p_g)) AS err
  FROM test t
  LEFT JOIN prof p ON p.user_id = t.user_id AND p.hod = t.hod
  LEFT JOIN um u ON u.user_id = t.user_id
  CROSS JOIN gm g)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(err) AS BIGINT) AS sum_abs_err,
       CAST(floor(CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5)
            AS BIGINT) AS mae_cents
FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------- A/B TEST


def _events_ab_test(spark, sf_dir):
    """Deterministic A/B experiment readout: users split into variants
    by md5 parity (the engine-portable bucketing every experiment
    platform uses), per-variant event/purchase/conversion stats
    pivoted to ONE row with conversion lift and the two-proportion
    z-score — all from exact integer counts through one fixed IEEE
    expression tree."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        cents(F.col("value")).alias("c"),
    )
    variant = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 2
    )
    staged = ev.withColumn("v", variant).withColumn(
        "is_p", (F.col("event_type") == "purchase").cast("long")
    )
    per = staged.groupBy("v").agg(
        F.countDistinct("user_id").alias("nu"),
        F.count(F.lit(1)).alias("ne"),
        F.sum("is_p").alias("np"),
        F.sum(F.when(F.col("is_p") == 1, F.col("c")).otherwise(0)).alias("pc"),
    )
    one = per.groupBy().agg(
        F.sum(F.when(F.col("v") == 0, F.col("nu"))).alias("users_a"),
        F.sum(F.when(F.col("v") == 1, F.col("nu"))).alias("users_b"),
        F.sum(F.when(F.col("v") == 0, F.col("ne"))).alias("events_a"),
        F.sum(F.when(F.col("v") == 1, F.col("ne"))).alias("events_b"),
        F.sum(F.when(F.col("v") == 0, F.col("np"))).alias("purch_a"),
        F.sum(F.when(F.col("v") == 1, F.col("np"))).alias("purch_b"),
        F.sum(F.when(F.col("v") == 0, F.col("pc"))).alias("cents_a"),
        F.sum(F.when(F.col("v") == 1, F.col("pc"))).alias("cents_b"),
    )
    ra = F.col("purch_a").cast("double") / F.col("events_a").cast("double")
    rb = F.col("purch_b").cast("double") / F.col("events_b").cast("double")
    p = (F.col("purch_a") + F.col("purch_b")).cast("double") / (
        F.col("events_a") + F.col("events_b")
    ).cast("double")
    z = (ra - rb) / F.sqrt(
        p
        * (1 - p)
        * (
            1 / F.col("events_a").cast("double")
            + 1 / F.col("events_b").cast("double")
        )
    )
    r4 = lambda col: F.floor(col * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    return one.select(
        "users_a",
        "users_b",
        "purch_a",
        "purch_b",
        "cents_a",
        "cents_b",
        r4(ra).alias("rate_a4"),
        r4(rb).alias("rate_b4"),
        r4(ra / rb).alias("lift4"),
        r4(z).alias("z4"),
    )


_AB_SQL = """
WITH e AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT % 2 AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events),
per AS (
  SELECT v, CAST(count(DISTINCT user_id) AS BIGINT) AS nu,
         CAST(count(*) AS BIGINT) AS ne,
         CAST(sum(is_p) AS BIGINT) AS np,
         CAST(sum(CASE WHEN is_p = 1 THEN c ELSE 0 END) AS BIGINT) AS pc
  FROM e GROUP BY 1),
one AS (
  SELECT CAST(sum(CASE WHEN v = 0 THEN nu END) AS BIGINT) AS users_a,
         CAST(sum(CASE WHEN v = 1 THEN nu END) AS BIGINT) AS users_b,
         CAST(sum(CASE WHEN v = 0 THEN ne END) AS BIGINT) AS events_a,
         CAST(sum(CASE WHEN v = 1 THEN ne END) AS BIGINT) AS events_b,
         CAST(sum(CASE WHEN v = 0 THEN np END) AS BIGINT) AS purch_a,
         CAST(sum(CASE WHEN v = 1 THEN np END) AS BIGINT) AS purch_b,
         CAST(sum(CASE WHEN v = 0 THEN pc END) AS BIGINT) AS cents_a,
         CAST(sum(CASE WHEN v = 1 THEN pc END) AS BIGINT) AS cents_b
  FROM per)
SELECT users_a, users_b, purch_a, purch_b, cents_a, cents_b,
       floor(CAST(purch_a AS DOUBLE) / CAST(events_a AS DOUBLE) * 10000 + 0.5)
         / 10000.0 AS rate_a4,
       floor(CAST(purch_b AS DOUBLE) / CAST(events_b AS DOUBLE) * 10000 + 0.5)
         / 10000.0 AS rate_b4,
       floor(CAST(purch_a AS DOUBLE) / CAST(events_a AS DOUBLE)
             / (CAST(purch_b AS DOUBLE) / CAST(events_b AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS lift4,
       floor((CAST(purch_a AS DOUBLE) / CAST(events_a AS DOUBLE)
              - CAST(purch_b AS DOUBLE) / CAST(events_b AS DOUBLE))
             / sqrt((CAST(purch_a + purch_b AS DOUBLE)
                     / CAST(events_a + events_b AS DOUBLE))
                    * (1 - CAST(purch_a + purch_b AS DOUBLE)
                           / CAST(events_a + events_b AS DOUBLE))
                    * (1 / CAST(events_a AS DOUBLE)
                       + 1 / CAST(events_b AS DOUBLE)))
             * 10000 + 0.5) / 10000.0 AS z4
FROM one
"""


# ------------------------------------------------------------- DAU/WAU/MAU


def _events_active_users(spark, sf_dir):
    """Exact DAU / WAU / MAU per day. Sliding COUNT(DISTINCT) windows
    don't decompose (a user active twice in a week must count once),
    so each (user, day) activity row FANS OUT to the 7 / 30 future
    days it keeps the user active for, then a distinct + count per
    target day — bounded fan-out on the DAY-USER grain (~1/1000th of
    event volume), pure equi-shapes, no window over raw events.
    Trailing days beyond the observed span drop via the equi-join back
    to the real day list."""
    days = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("(unix_micros(ts) div 1000000) div 86400").alias("dnum"),
        )
        .distinct()
    )
    day_list = days.select("dnum").distinct()
    dau = days.groupBy("dnum").agg(F.count(F.lit(1)).alias("dau"))

    def rolling(n: int, name: str):
        fan = days.select(
            "user_id",
            F.explode(
                F.sequence(F.col("dnum"), F.col("dnum") + (n - 1))
            ).alias("tgt"),
        ).distinct()
        return (
            fan.join(day_list, fan.tgt == day_list.dnum)
            .groupBy("dnum")
            .agg(F.count(F.lit(1)).alias(name))
        )

    return (
        dau.join(rolling(7, "wau"), "dnum")
        .join(rolling(30, "mau"), "dnum")
        .select("dnum", "dau", "wau", "mau")
    )


_ACTIVE_SQL = """
WITH days AS (
  SELECT DISTINCT user_id,
         (epoch_us(ts) // 1000000) // 86400 AS dnum
  FROM events),
dl AS (SELECT DISTINCT dnum FROM days)
SELECT dl.dnum,
       CAST((SELECT count(*) FROM days d WHERE d.dnum = dl.dnum) AS BIGINT)
         AS dau,
       CAST((SELECT count(DISTINCT d.user_id) FROM days d
             WHERE d.dnum BETWEEN dl.dnum - 6 AND dl.dnum) AS BIGINT)
         AS wau,
       CAST((SELECT count(DISTINCT d.user_id) FROM days d
             WHERE d.dnum BETWEEN dl.dnum - 29 AND dl.dnum) AS BIGINT)
         AS mau
FROM dl
"""


# ------------------------------------------------------------ PATH ANALYSIS


def _events_path_topk(spark, sf_dir):
    """Top-20 3-step event-type paths within sessions (the product-
    analytics 'how do users reach purchase' query): sessionize, fold
    each session's ordered type sequence into an array, expand 3-grams
    IN PLACE with array HOFs (no per-step self-join), count, and rank
    with the window-free limit-then-rank top-k."""
    from pyspark.sql import Window as W

    from .ops.scale import ranked_topk
    from .ops.timeseries import SESSION_GAP_S

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
    )
    w = W.partitionBy("user_id").orderBy("es", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    brk = (
        F.when(
            F.lag("es").over(w).isNull()
            | (F.col("es") - F.lag("es").over(w) > SESSION_GAP_S),
            1,
        )
        .otherwise(0)
    )
    sess = ev.withColumn("sess_id", F.sum(brk).over(run))
    seqs = sess.groupBy("user_id", "sess_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("es", "event_id", "event_type"))
            ),
            lambda s: s.event_type,
        ).alias("types")
    )
    n = F.size("types")
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                ">",
                F.element_at(F.col("types"), (i + 1).cast("int")),
                F.element_at(F.col("types"), (i + 2).cast("int")),
                F.element_at(F.col("types"), (i + 3).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        seqs.select(F.explode(grams).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return ranked_topk(counts, [("n", "desc"), ("path", "asc")], 20)


_PATH_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS es
  FROM events),
l AS (SELECT *, lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id)
             AS pes FROM e),
s AS (SELECT user_id, event_id, event_type, es,
             sum(CASE WHEN pes IS NULL OR es - pes > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY es, event_id
                     ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l),
seqs AS (SELECT user_id, sess_id,
                list(event_type ORDER BY es, event_id) AS types
         FROM s GROUP BY 1, 2),
grams AS (
  SELECT unnest(CASE WHEN len(types) >= 3
                     THEN list_transform(range(0, len(types) - 2),
                          i -> types[i + 1] || '>' || types[i + 2]
                               || '>' || types[i + 3])
                     ELSE [] END) AS path
  FROM seqs),
counts AS (SELECT path, CAST(count(*) AS BIGINT) AS n
           FROM grams GROUP BY 1)
SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS INT) AS rnk,
       path, n
FROM counts ORDER BY n DESC, path LIMIT 20
"""


# ----------------------------------------------------------- MAD ANOMALY

_MAD_K = 4.4478  # 3 sigma-equivalents x 1.4826 (normal-consistency)


def _per_user_median(df, val: str, out: str):
    """Exact per-user interpolated median for HIGH-CARDINALITY groups:
    one window shuffle on user_id (the groups themselves are the
    parallelism — the range-bucketed exact_quantiles exists for the
    opposite regime, few/whale groups, and costs several stages per
    pass). Interpolation expression shape identical to quantile_cont
    (v_lo + (v_hi - v_lo)·frac), so it stays oracle-exact."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(val)
    r = df.withColumn("rn", F.row_number().over(w) - 1).withColumn(
        "nn", F.count(F.lit(1)).over(W.partitionBy("user_id"))
    )
    idx = F.lit(0.5) * (F.col("nn") - 1)
    lo, hi = F.floor(idx), F.ceil(idx)
    picked = r.filter((F.col("rn") == lo) | (F.col("rn") == hi))
    agg = picked.groupBy("user_id").agg(
        F.min(F.when(F.col("rn") == F.floor(F.lit(0.5) * (F.col("nn") - 1)),
                     F.col(val))).alias("_vlo"),
        F.min(F.when(F.col("rn") == F.ceil(F.lit(0.5) * (F.col("nn") - 1)),
                     F.col(val))).alias("_vhi"),
        F.min(F.lit(0.5) * (F.col("nn") - 1) - F.floor(
            F.lit(0.5) * (F.col("nn") - 1))).alias("_fr"),
    )
    return agg.select(
        "user_id",
        (F.col("_vlo") + (F.col("_vhi") - F.col("_vlo")) * F.col("_fr")
         ).alias(out),
    )


def _events_anomaly_mad(spark, sf_dir):
    """Robust per-user anomaly detection: |x - median| > 3σ-equivalent
    of the Median Absolute Deviation — the outlier-resistant twin of
    events_anomaly_zscore (one wild event shifts a mean/std envelope,
    not a median/MAD one). Exact interpolated medians via per-user
    windows (see _per_user_median), everything downstream one fixed
    IEEE expression over exact inputs."""
    staged = t(spark, sf_dir, "events").select(
        "user_id",
        cents(F.col("value")).alias("c"),
    )
    med = _per_user_median(staged, "c", "med")
    d = staged.join(med, "user_id").withColumn(
        "dv", F.abs(F.col("c").cast("double") - F.col("med"))
    )
    mad = _per_user_median(d.select("user_id", "dv"), "dv", "mad")
    scored = d.join(mad, "user_id")
    anom = (F.col("dv") > F.col("mad") * _MAD_K).cast("long")
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(anom).alias("n_anomalies"),
        (round2(F.max("med"))).alias("med2"),
        (round2(F.max("mad"))).alias("mad2"),
    )


_MAD_SQL = f"""
WITH e AS (
  SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
med AS (SELECT user_id, quantile_cont(c, 0.5) AS med FROM e GROUP BY 1),
d AS (SELECT e.user_id, e.c, med.med,
             abs(CAST(e.c AS DOUBLE) - med.med) AS dv
      FROM e JOIN med ON med.user_id = e.user_id),
mad AS (SELECT user_id, quantile_cont(dv, 0.5) AS mad FROM d GROUP BY 1)
SELECT d.user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN dv > mad.mad * {_MAD_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies,
       floor(max(d.med) * 100 + 0.5) / 100.0 AS med2,
       floor(max(mad.mad) * 100 + 0.5) / 100.0 AS mad2
FROM d JOIN mad ON mad.user_id = d.user_id
GROUP BY 1
"""


# ------------------------------------------------ LINEAR INTERPOLATION


def _ts_interpolate_linear(spark, sf_dir):
    return TS.interpolate_linear(t(spark, sf_dir, "events"))


_INTERP_SQL = f"""
WITH obs AS (SELECT user_id, epoch_us(ts) AS ord_us, 1 AS is_obs, value AS v,
                    event_id AS eid, CAST(NULL AS BIGINT) AS gs FROM events),
b AS (SELECT user_id,
             CAST(floor(epoch(min(ts)) / {TS.GRID_S}) * {TS.GRID_S} AS BIGINT) AS g0,
             CAST(floor(epoch(max(ts)) / {TS.GRID_S}) * {TS.GRID_S} AS BIGINT) AS g1
      FROM events GROUP BY user_id),
grid AS (SELECT user_id, unnest(range(g0, g1 + {TS.GRID_S}, {TS.GRID_S})) AS gs
         FROM b),
g2 AS (SELECT user_id, gs * 1000000 AS ord_us, 0 AS is_obs,
              CAST(NULL AS DOUBLE) AS v, CAST(-1 AS BIGINT) AS eid, gs FROM grid),
u AS (SELECT * FROM obs UNION ALL SELECT * FROM g2),
f AS (SELECT *,
        last_value(v IGNORE NULLS) OVER wb AS v0,
        last_value(CASE WHEN is_obs = 1 THEN ord_us END IGNORE NULLS)
          OVER wb AS t0,
        first_value(v IGNORE NULLS) OVER wf AS v1,
        first_value(CASE WHEN is_obs = 1 THEN ord_us END IGNORE NULLS)
          OVER wf AS t1
      FROM u
      WINDOW wb AS (PARTITION BY user_id ORDER BY ord_us, is_obs DESC, eid
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id ORDER BY ord_us, is_obs DESC, eid
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id,
       strftime(TIMESTAMP '1970-01-01' + gs * INTERVAL 1 SECOND,
                '%Y-%m-%d %H:%M:%S') AS slot,
       floor(CASE
               WHEN v0 IS NOT NULL AND ord_us = t0 THEN v0
               WHEN v0 IS NOT NULL AND v1 IS NOT NULL THEN
                 v0 + (v1 - v0) * (CAST(ord_us - t0 AS DOUBLE)
                                   / CAST(t1 - t0 AS DOUBLE))
             END * 10000 + 0.5) / 10000.0 AS value_lin4
FROM f WHERE is_obs = 0
"""


# ------------------------------------------- MARKOV STATIONARY STATE

MARKOV_ITERS = 8

MARKOV_UNIT = 1_000_000


def _events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain by
    unrolled integer power iteration — the long-run share of user
    attention per event type, the forecasting complement of
    events_transition_matrix.

    Scale shape: ONE events scan builds the (from, to, n, row_n)
    transition counts (lag window + aggregate — the |types|² table is
    tiny at any event volume: event_type is a bounded domain enum), then
    the whole chain collapses into ONE row — edges as a sorted struct
    array, states as a sorted array — and every iteration is a single
    array projection: π_{k+1}(j) = Σ_i (π_k(i)·n_ij) // row_n_i, all
    int64 (same integer-recurrence discipline as ops/graph.pagerank_int
    — floor-per-term keeps the sum order-independent, and integer sums
    commute, so folding over the sorted edge array yields the identical
    value the old per-iteration groupBy produced). The old unrolled
    form planned 8 join+aggregate trees (139 Exchanges, a 1,340-line
    physical plan at sf0.1) to move ≤|types|² rows per step; the packed
    form runs the recurrence as |types|²-element array folds inside one
    projection — the fact table is touched exactly once either way, and
    the iteration state is metadata-sized at any event volume."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type", 1).over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_n = F.sum("n").over(Window.partitionBy("from_type"))
    counts = counts.withColumn("row_n", row_n)
    # pack the bounded-domain chain into one row: deterministic order
    # via sort_array on both the state list and the (from, to)-unique
    # edge structs
    packed = counts.agg(
        F.sort_array(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.array("from_type", "to_type"))
                )
            )
        ).alias("states"),
        F.sort_array(
            F.collect_list(F.struct("from_type", "to_type", "n", "row_n"))
        ).alias("edges"),
    )
    # pre-resolve each edge's from-state to its π index once
    packed = packed.withColumn(
        "edges",
        F.expr(
            "transform(edges, e -> struct("
            "cast(array_position(states, e.from_type) AS int) AS fi,"
            " e.to_type AS to_type, e.n AS n, e.row_n AS row_n))"
        ),
    )
    # the whole recurrence as ONE fold over sequence(1, iters): the π
    # array is the fold ACCUMULATOR — a bound lambda variable, so each
    # step's value is materialized once per step by construction
    # (chained projections were re-inlined into the next step's lambda
    # by CollapseProject and re-evaluated per (state, edge) — an
    # exponential blowup this form cannot exhibit)
    packed = packed.withColumn(
        "pi",
        F.expr(
            f"aggregate(sequence(1, {MARKOV_ITERS}),"
            f" transform(states, s -> cast({MARKOV_UNIT} AS bigint)),"
            " (pi, k) -> transform(states, s ->"
            "   aggregate(edges, cast(0 AS bigint),"
            "    (acc, e) -> acc + if(e.to_type = s,"
            "     (element_at(pi, e.fi) * e.n) div e.row_n,"
            "     cast(0 AS bigint)))))"
        ),
    )
    return packed.select(
        F.posexplode(F.arrays_zip("states", "pi")).alias("_p", "z")
    ).select(
        F.col("z.states").alias("event_type"),
        F.col("z.pi").alias("pi_micro"),
    )


def _markov_sql() -> str:
    parts = [
        """WITH p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS from_type,
                  event_type AS to_type
           FROM events),
c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
r AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY 1),
ed AS (SELECT c.from_type, c.to_type, c.n, r.row_n
       FROM c JOIN r ON c.from_type = r.from_type),
states AS (SELECT DISTINCT from_type AS state FROM c
           UNION SELECT DISTINCT to_type FROM c),""",
        f"pi0 AS (SELECT state, CAST({MARKOV_UNIT} AS BIGINT) AS pi FROM states)",
    ]
    for i in range(MARKOV_ITERS):
        parts.append(
            f", pi{i + 1} AS (SELECT s.state, CAST(COALESCE(t.p, 0) AS BIGINT)"
            f" AS pi FROM states s LEFT JOIN"
            f" (SELECT ed.to_type AS state, SUM((p.pi * ed.n) // ed.row_n) AS p"
            f"  FROM ed JOIN pi{i} p ON ed.from_type = p.state"
            f"  GROUP BY ed.to_type) t ON s.state = t.state)"
        )
    parts.append(
        f"SELECT state AS event_type, pi AS pi_micro FROM pi{MARKOV_ITERS}"
    )
    return "\n".join(parts)


# ------------------------------------------------- LAG AUTOCORRELATION


def _ts_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of event values in time order —
    the is-this-series-momentum-or-noise screen. Pearson r over the
    (v_t, v_{t-1}) pairs from EXACT integer cent sums (six int64 power
    sums per user, one lag window + one aggregate = one shuffle); the
    closed-form double arithmetic runs on per-user scalars only,
    written identically here and in the oracle. Users with < 3 pairs
    or zero variance on either side are filtered (r undefined)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = cents(F.col("value"))
    pairs = (
        ev.select("user_id", "ts", "event_id", c.alias("c0"))
        .withColumn("c1", F.lag("c0", 1).over(w))
        .filter(F.col("c1").isNotNull())
    )
    g = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c0").alias("sx"),
        F.sum("c1").alias("sy"),
        F.sum(F.col("c0") * F.col("c0")).alias("sxx"),
        F.sum(F.col("c1") * F.col("c1")).alias("syy"),
        F.sum(F.col("c0") * F.col("c1")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    dx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return (
        g.filter((F.col("n") >= 3) & (dx > 0) & (dy > 0))
        .select(
            "user_id",
            F.col("n").alias("n_pairs"),
            (F.floor(num / (F.sqrt(dx) * F.sqrt(dy)) * 10000 + F.lit(0.5)) / 10000.0).alias(
                "acf1_4"
            ),
        )
    )


_AUTOCORR_SQL = """
WITH s AS (SELECT user_id, ts, event_id,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS c0
           FROM events),
p AS (SELECT user_id, c0,
             lag(c0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c1
      FROM s),
g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c0) AS BIGINT) AS sx, CAST(sum(c1) AS BIGINT) AS sy,
             CAST(sum(c0*c0) AS BIGINT) AS sxx,
             CAST(sum(c1*c1) AS BIGINT) AS syy,
             CAST(sum(c0*c1) AS BIGINT) AS sxy
      FROM p WHERE c1 IS NOT NULL GROUP BY user_id),
d AS (SELECT user_id, n,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
      FROM g)
SELECT user_id, n AS n_pairs,
       floor(num / (sqrt(dx) * sqrt(dy)) * 10000 + 0.5) / 10000.0 AS acf1_4
FROM d WHERE n >= 3 AND dx > 0 AND dy > 0
"""


# -------------------------------------------- DECAYED ENGAGEMENT SCORE

DECAY_ANCHOR = "2024-03-01 00:00:00"  # fixed as-of point (fixture spans Jan-Feb)

DECAY_CAP_DAYS = 30


def _events_decay_score(spark, sf_dir):
    """Time-decayed engagement score per user (the recency-weighted
    ranking signal): each event contributes value·2^(-age_days), with
    the decay weight computed as an EXACT integer right-shift —
    ``2^30 >> age_days`` (capped at 30 days, after which the weight is
    0; the 2^30 unit keeps every day inside the cap at a nonzero
    weight — a 1e6 unit underflowed to 0 from day 20, silently
    zeroing events aged 20-30 days) — so the aggregate is an
    order-independent int64 sum, never a
    float pow whose last ulp differs across libm builds. The as-of
    anchor is a fixed literal so the query is deterministic across
    runs (a now() anchor would flip the hash every day).

    One scan, one user-grain aggregate; the shift is per-row JVM
    arithmetic."""
    ev = t(spark, sf_dir, "events")
    anchor = F.lit(DECAY_ANCHOR).cast("timestamp")
    age_days = F.floor(
        (F.unix_micros(anchor) - F.unix_micros("ts")) / F.lit(86_400_000_000)
    ).cast("int")
    c = cents(F.col("value"))
    staged = ev.select(
        "user_id", c.alias("c"), age_days.alias("age_days")
    )
    # shiftright's bit count must be a per-row COLUMN here, which the
    # typed DSL rejects — the SQL expression form accepts it
    w = F.expr(
        f"CASE WHEN age_days >= 0 AND age_days <= {DECAY_CAP_DAYS}"
        " THEN shiftright(cast(1073741824 as bigint), age_days)"
        " ELSE cast(0 as bigint) END"
    )
    g = staged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("c") * w).alias("score_raw"),
    )
    return g.select(
        "user_id",
        "n_events",
        (
            F.floor(
                F.col("score_raw").cast("double") / 107374182400.0 * 10000 + 0.5
            )
            / 10000.0
        ).alias("decay_score4"),
    )


_DECAY_SQL = f"""
WITH s AS (
  SELECT user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
         CAST(floor((epoch_us(TIMESTAMP '{DECAY_ANCHOR}') - epoch_us(ts))
                    / 86400000000.0) AS INTEGER) AS age_days
  FROM events),
w AS (SELECT user_id, c,
             CASE WHEN age_days >= 0 AND age_days <= {DECAY_CAP_DAYS}
                  THEN CAST(1073741824 AS BIGINT) >> age_days
                  ELSE CAST(0 AS BIGINT) END AS w
      FROM s)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       floor(CAST(sum(c * w) AS DOUBLE) / 107374182400.0 * 10000 + 0.5) / 10000.0
         AS decay_score4
FROM w GROUP BY user_id
"""


# ---------------------------------------- ARRIVAL COUNT DISPERSION


def _events_count_dispersion(spark, sf_dir):
    """Poisson overdispersion screen on arrival counts: per event
    type, the index of dispersion (variance/mean) of per-hour event
    counts — ≈1 for a Poisson process, ≫1 for bursty arrivals (the
    complement of agg_dispersion, which profiles VALUES; this
    profiles COUNT dynamics). Hour-grain counts from one aggregate;
    the moments are exact int64 sums over the tiny
    (type, hour)-grain table; only the final ratio is double, written
    identically in both engines."""
    ev = t(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    g = hours.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
    )
    n = F.col("n_hours").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.col("sq").cast("double") / n - mean * mean
    return g.select(
        "event_type",
        "n_hours",
        (F.floor(mean * 10000 + F.lit(0.5)) / 10000.0).alias("mean4"),
        (F.floor(var / mean * 10000 + F.lit(0.5)) / 10000.0).alias("dispersion4"),
    )


_COUNT_DISPERSION_SQL = """
WITH h AS (SELECT event_type, date_trunc('hour', ts) AS h,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY event_type, date_trunc('hour', ts)),
g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(cnt) AS BIGINT) AS s,
             CAST(sum(cnt * cnt) AS BIGINT) AS sq
      FROM h GROUP BY event_type)
SELECT event_type, n_hours,
       floor(CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) * 10000 + 0.5)
         / 10000.0 AS mean4,
       floor((CAST(sq AS DOUBLE) / CAST(n_hours AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE)))
             / (CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS dispersion4
FROM g
"""


# --------------------------------------------- PEAK CONCURRENCY


def _events_peak_concurrency(spark, sf_dir):
    """Sweep-line peak concurrency per user: the maximum number of
    simultaneously-open activity windows (each event opens a 20-minute
    half-open interval) — the load-peak statistic of any interval
    workload (sessions, jobs, connections). Each interval emits a
    +1 at its start and a −1 at its end; one keyed window running-sum
    over (time, delta) — ends sort before starts at the same instant,
    the half-open convention — and the per-user MAX of the running
    level is the peak. The max is tie-order-invariant, so the result
    is deterministic even where multiple intervals share a boundary.
    One shuffle (the user-keyed window), then a user-grain aggregate."""
    ev = t(spark, sf_dir, "events")
    span = OVERLAP_SPAN_S * 1_000_000
    base = ev.select("user_id", F.unix_micros("ts").alias("s"))
    deltas = base.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(
        base.select("user_id", (F.col("s") + span).alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lev = deltas.withColumn("level", F.sum("d").over(w))
    return lev.groupBy("user_id").agg(
        F.max("level").cast("long").alias("peak_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


_PEAK_SQL = f"""
WITH base AS (SELECT user_id, epoch_us(ts) AS s FROM events),
d AS (SELECT user_id, s AS t, 1 AS d FROM base
      UNION ALL
      SELECT user_id, s + {OVERLAP_SPAN_S} * 1000000 AS t, -1 AS d FROM base),
lev AS (SELECT user_id,
               sum(d) OVER (PARTITION BY user_id ORDER BY t, d
                            ROWS UNBOUNDED PRECEDING) AS level
        FROM d)
SELECT user_id, CAST(max(level) AS BIGINT) AS peak_concurrent,
       CAST(count(*) / 2 AS BIGINT) AS n_intervals
FROM lev GROUP BY user_id
"""


# ----------------------------------------------- BEHAVIORAL DIVERSITY


def _events_user_type_gini(spark, sf_dir):
    """Behavioral-diversity screen per user: Gini impurity of the
    event-type distribution, 1 − Σ(nᵢ/n)² — the log-free stand-in for
    Shannon entropy (log's last ulp differs across libm builds; Gini
    is a pure rational of two exact integers). 0 = single-type bot,
    → 0.8 = uniform over the 5 types. Two keyed aggregates — (user,
    type) then user — both map-side combined; the final double divides
    exact int64 sums."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("ni"))
    g = per.groupBy("user_id").agg(
        F.sum("ni").alias("n"),
        F.sum(F.col("ni") * F.col("ni")).alias("sq"),
        F.count(F.lit(1)).alias("n_types"),
    )
    gini = 1.0 - F.col("sq").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return g.select(
        "user_id",
        "n_types",
        (F.floor(gini * 10000 + F.lit(0.5)) / 10000.0).alias("gini4"),
    )


_GINI_SQL = """
WITH per AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS ni
             FROM events GROUP BY user_id, event_type),
g AS (SELECT user_id, CAST(sum(ni) AS BIGINT) AS n,
             CAST(sum(ni * ni) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS n_types
      FROM per GROUP BY user_id)
SELECT user_id, n_types,
       floor((1.0 - CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             * 10000 + 0.5) / 10000.0 AS gini4
FROM g
"""


# ---------------------------------------------- LAST-TOUCH ATTRIBUTION


def _events_attribution_last_touch(spark, sf_dir):
    """Marketing-style last-touch attribution: every purchase event is
    credited to the user's most recent click STRICTLY before it (ties
    at the same timestamp resolve by event_id order), with the
    click-to-purchase latency in whole seconds. One keyed window pass
    over the user stream — the conditional last(...ignorenulls) over a
    rows-to-previous frame carries the last click forward, so the
    operator costs exactly one shuffle at any event volume (no
    self-join of purchases against clicks)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    click_us = F.last(
        F.when(F.col("event_type") == "click", F.unix_micros("ts")),
        ignorenulls=True,
    ).over(w)
    staged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("p_us"),
        click_id.alias("click_id"),
        click_us.alias("click_us"),
    ).filter(F.col("event_type") == "purchase")
    return staged.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "click_id",
        F.floor((F.col("p_us") - F.col("click_us")) / 1_000_000)
        .cast("long")
        .alias("delta_s"),
    )


_ATTRIBUTION_SQL = """
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS p_us,
         last_value(CASE WHEN event_type = 'click' THEN event_id END
                    IGNORE NULLS) OVER w AS click_id,
         last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                    IGNORE NULLS) OVER w AS click_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT user_id, event_id AS purchase_id, click_id,
       CAST(floor((p_us - click_us) / 1000000) AS BIGINT) AS delta_s
FROM s WHERE event_type = 'purchase'
"""

_ISOTONIC_SQL = """
WITH s AS (
  SELECT user_id, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS i
  FROM events
),
p AS (
  SELECT user_id, event_id, i, c,
         sum(c) OVER (PARTITION BY user_id ORDER BY i
                      ROWS UNBOUNDED PRECEDING) AS pref
  FROM s
),
m AS (
  SELECT a.user_id, a.i AS j, b.i AS k,
         CAST(b.pref - (a.pref - a.c) AS DOUBLE) / (b.i - a.i + 1) AS mean_jk
  FROM p a JOIN p b ON a.user_id = b.user_id AND a.i <= b.i
),
sm AS (
  SELECT user_id, j, k,
         min(mean_jk) OVER (PARTITION BY user_id, j ORDER BY k DESC
                            ROWS UNBOUNDED PRECEDING) AS minsuf
  FROM m
),
f AS (
  SELECT user_id, k AS i, max(minsuf) AS fit
  FROM sm GROUP BY user_id, k
)
SELECT s.user_id, s.event_id,
       floor(f.fit / 100.0 * 10000 + 0.5) / 10000.0 AS fitted4
FROM f JOIN s ON s.user_id = f.user_id AND s.i = f.i
"""


# ------------------------------------------------------- OHLC BARS


def ohlc_bars(events):
    """Open-high-low-close downsampling of the event value stream into
    per-(event_type, hour) bars — the classic tick→bar compression every
    metrics/market pipeline runs. Open/close are the values at the
    earliest/latest (ts, event_id) in the bar (event_id breaks ts ties
    deterministically); high/low are value extremes; values ride as
    integer cents.

    Scale shape: ONE shuffle on the (type, hour) bar key, and every
    aggregate — including open/close — is partial-aggregable:
    open/close are ``min/max(struct(ts, event_id, cents))``, the
    argmax-as-struct-extremum trick (ops/relational.topk_latest
    family), NOT a per-bar window sort. A window formulation re-sorts
    every bar's rows; the struct extremum combines map-side."""
    ev = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bar_hour"),
        "ts",
        "event_id",
        cents(F.col("value")).alias("c"),
    )
    g = ev.groupBy("event_type", "bar_hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.struct("ts", "event_id", "c")).alias("o"),
        F.max(F.struct("ts", "event_id", "c")).alias("z"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    )
    return g.select(
        "event_type",
        "bar_hour",
        "n_events",
        (F.col("o.c") / 100.0).alias("open2"),
        (F.col("hi") / 100.0).alias("high2"),
        (F.col("lo") / 100.0).alias("low2"),
        (F.col("z.c") / 100.0).alias("close2"),
    ).orderBy("event_type", "bar_hour")


def _ts_ohlc_bars(spark, sf_dir):
    return ohlc_bars(t(spark, sf_dir, "events"))


# Oracle mirrors the semantics, not the plan: DuckDB's arg_min/arg_max
# take no composite ordering key, so open/close come from row_number
# windows (fine at oracle scale; the Spark side must NOT do this).
_OHLC_SQL = """
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS bar_hour, ts, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bar_hour
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bar_hour
                            ORDER BY ts DESC, event_id DESC) AS rn_z
  FROM e
)
SELECT event_type, bar_hour,
       CAST(count(*) AS BIGINT) AS n_events,
       max(CASE WHEN rn_a = 1 THEN c END) / 100.0 AS open2,
       max(c) / 100.0 AS high2,
       min(c) / 100.0 AS low2,
       max(CASE WHEN rn_z = 1 THEN c END) / 100.0 AS close2
FROM r GROUP BY event_type, bar_hour
ORDER BY event_type, bar_hour
"""


# ---------------------------------------- CUMULATIVE DISTINCT USERS


def cumulative_distinct_users(events):
    """Distinct users ever seen, by day — the growth-curve query every
    product dashboard runs, restated without the scale cliff. The naive
    form (``count(distinct user) over (order by day)``) re-scans the
    whole history per day through ONE reducer. The scalable identity:
    a user contributes only at their FIRST day, so cumulative distinct
    = running sum of first-seen counts — and the running sum itself is
    a HIERARCHICAL prefix sum: a month-partitioned window (parallel
    across months) plus month-level base offsets, so no partition-less
    window ever appears. The month-offset build joins the month table
    to itself (strictly-earlier months) — months are calendar-bounded
    (12/year at ANY data scale), the sanctioned bounded-build shape.

    Scale shape: one shuffle to user grain (min day per user), one
    tiny shuffle to day grain, windows only within month partitions."""
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    daily = daily.withColumn("month", F.date_trunc("month", F.col("day")))
    w = (
        Window.partitionBy("month")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = daily.withColumn("cum_in_month", F.sum("new_users").over(w))
    month_tot = daily.groupBy("month").agg(
        F.sum("new_users").alias("month_users")
    )
    m_a = month_tot.select(F.col("month").alias("m"))
    m_b = month_tot.select(F.col("month").alias("m2"), "month_users")
    offsets = (
        m_a.join(m_b, m_b.m2 < m_a.m)
        .groupBy("m")
        .agg(F.sum("month_users").alias("offset"))
    )
    return (
        within.join(
            F.broadcast(offsets), within.month == offsets.m, "left"
        )
        .select(
            "day",
            "new_users",
            (F.col("cum_in_month") + F.coalesce(F.col("offset"), F.lit(0))).alias(
                "cum_users"
            ),
        )
        .orderBy("day")
    )


def _events_cumulative_distinct(spark, sf_dir):
    return cumulative_distinct_users(t(spark, sf_dir, "events"))


_CUMDIST_SQL = """
WITH fs AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY day)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM d ORDER BY day
"""


# =====================================================================
# Feature engineering family: the fit+transform operators a training
# pipeline runs between curation and the trainer.  Same exactness
# discipline: fitted parameters are integer moment sums / exact order
# statistics; every exported float is a quantized IEEE expression over
# exact int64 casts.
# =====================================================================

# deterministic application subsets (content-free key arithmetic, the
# sample_hash_bernoulli argument: retry-stable row membership)
SCALE_MOD = 997


def scale_battery(events, mod: int = SCALE_MOD):
    """Fit-and-apply of the three standard scalers — z-score (standard),
    min-max, and robust (median/IQR) — per event_type, applied to a
    deterministic row subset.  Fitted parameters are exact: integer
    moment sums for mean/std (sqrt is IEEE-correctly-rounded, so even
    the std is bit-stable cross-engine), and EXACT order statistics for
    the robust quartiles (smallest v with 4·cum ≥ k·n at the distinct
    cents-value grain — no interpolation, no approximate percentile).

    Scale shape: one shuffle to the (type, distinct-value) grain for
    the quartile scan (bounded by the value domain), windows only
    within type partitions; moments ride the same aggregate; the 5-row
    parameter table broadcasts onto the filtered application subset."""
    vals = events.select(
        "event_id", "event_type", cents(F.col("value")).alias("c")
    )
    grp = vals.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grp.select(
        "event_type", "c", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    ntot = grp.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    cumn = cum.join(F.broadcast(ntot), "event_type")
    quarts = cumn.groupBy("event_type").agg(
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("c"))).alias("p25"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("c"))).alias("p50"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("c"))).alias("p75"),
    )
    moments = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
        F.min("c").alias("cmin"),
        F.max("c").alias("cmax"),
    )
    params = moments.join(quarts, "event_type")
    rows = vals.where(F.pmod(F.col("event_id"), F.lit(mod)) == 0)
    j = rows.join(F.broadcast(params), "event_type")
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    std = F.sqrt(
        (F.col("q") * F.col("n") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    )
    dc = F.col("c").cast("double")

    def q6(x):
        return F.floor(x * 1000000 + F.lit(0.5)) / 1000000.0

    z6 = F.when((F.col("n") < 2) | (std == 0.0), F.lit(0.0)).otherwise(
        q6((dc - mean) / std)
    )
    mm6 = F.when(F.col("cmax") == F.col("cmin"), F.lit(0.0)).otherwise(
        q6(
            (F.col("c") - F.col("cmin")).cast("double")
            / (F.col("cmax") - F.col("cmin")).cast("double")
        )
    )
    r6_ = F.when(F.col("p75") == F.col("p25"), F.lit(0.0)).otherwise(
        q6(
            (F.col("c") - F.col("p50")).cast("double")
            / (F.col("p75") - F.col("p25")).cast("double")
        )
    )
    return j.select(
        "event_id",
        "event_type",
        "c",
        z6.alias("z6"),
        mm6.alias("mm6"),
        r6_.alias("robust6"),
    ).orderBy("event_id")


def _feature_scale_battery(spark, sf_dir):
    return scale_battery(t(spark, sf_dir, "events"))


_SCALE_SQL = f"""
WITH vals AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
grp AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT event_type, c, cnt,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS BIGINT) AS cum
  FROM grp
),
ntot AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM grp GROUP BY 1
),
quarts AS (
  SELECT cum.event_type,
         min(CASE WHEN 4 * cum >= n THEN c END) AS p25,
         min(CASE WHEN 2 * cum >= n THEN c END) AS p50,
         min(CASE WHEN 4 * cum >= 3 * n THEN c END) AS p75
  FROM cum JOIN ntot ON cum.event_type = ntot.event_type
  GROUP BY cum.event_type
),
moments AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q,
         min(c) AS cmin, max(c) AS cmax
  FROM vals GROUP BY 1
),
params AS (
  SELECT moments.*, p25, p50, p75
  FROM moments JOIN quarts ON moments.event_type = quarts.event_type
)
SELECT v.event_id, v.event_type, v.c,
       CASE WHEN n < 2 OR sqrt(CAST(q * n - s * s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) = 0.0
            THEN 0.0
            ELSE floor((CAST(v.c AS DOUBLE)
                        - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       / sqrt(CAST(q * n - s * s AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                       * 1000000 + 0.5) / 1000000.0
       END AS z6,
       CASE WHEN cmax = cmin THEN 0.0
            ELSE floor(CAST(v.c - cmin AS DOUBLE)
                       / CAST(cmax - cmin AS DOUBLE) * 1000000 + 0.5) / 1000000.0
       END AS mm6,
       CASE WHEN p75 = p25 THEN 0.0
            ELSE floor(CAST(v.c - p50 AS DOUBLE)
                       / CAST(p75 - p25 AS DOUBLE) * 1000000 + 0.5) / 1000000.0
       END AS robust6
FROM vals v JOIN params ON v.event_type = params.event_type
WHERE v.event_id % {SCALE_MOD} = 0
ORDER BY v.event_id
"""


# Target-encoding smoothing pseudo-count (the standard m-estimate).
TE_SMOOTH = 10

TE_MOD = 13


def target_encode(customer, m: int = TE_SMOOTH, mod: int = TE_MOD):
    """Smoothed (m-estimate) target encoding of c_mktsegment against
    the account-balance target, with the leave-one-out variant on a
    deterministic row subset — LOO is what prevents target leakage in
    training folds, and its per-row form is exactly the group sums
    minus self, so no second pass is needed.

    Exactness: all sums are integer cents; the smoothing prior mu is
    the one shared double; every encoded value is one quantized IEEE
    division of exact components.  Scale shape: one map-side
    aggregate to the segment grain (closed enum), broadcast back onto
    the subset rows."""
    vals = customer.select(
        "c_custkey", "c_mktsegment", cents(F.col("c_acctbal")).alias("c")
    )
    g = vals.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("c").alias("s_g")
    )
    tot = vals.agg(F.sum("c").alias("ts"), F.count(F.lit(1)).alias("tn"))
    rows = vals.where(F.pmod(F.col("c_custkey"), F.lit(mod)) == 0)
    j = rows.join(F.broadcast(g), "c_mktsegment").join(F.broadcast(tot))
    mu = F.col("ts").cast("double") / F.col("tn").cast("double")

    def q6(x):
        return F.floor(x * 1000000 + F.lit(0.5)) / 1000000.0

    enc = q6(
        (F.col("s_g").cast("double") + F.lit(float(m)) * mu)
        / (F.col("n_g") + m).cast("double")
        / 100.0
    )
    loo = F.when(F.col("n_g") <= 1, F.lit(None).cast("double")).otherwise(
        q6(
            ((F.col("s_g") - F.col("c")).cast("double") + F.lit(float(m)) * mu)
            / (F.col("n_g") - 1 + m).cast("double")
            / 100.0
        )
    )
    return j.select(
        "c_custkey", "c_mktsegment", enc.alias("enc6"), loo.alias("loo6")
    ).orderBy("c_custkey")


def _feature_target_encode(spark, sf_dir):
    return target_encode(t(spark, sf_dir, "customer"))


_TE_SQL = f"""
WITH vals AS (
  SELECT c_custkey, c_mktsegment,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS c
  FROM customer
),
g AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(c) AS BIGINT) AS s_g
  FROM vals GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS ts, CAST(count(*) AS BIGINT) AS tn FROM vals
)
SELECT v.c_custkey, v.c_mktsegment,
       floor((CAST(s_g AS DOUBLE)
              + {TE_SMOOTH}.0 * (CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)))
             / CAST(n_g + {TE_SMOOTH} AS DOUBLE) / 100.0
             * 1000000 + 0.5) / 1000000.0 AS enc6,
       CASE WHEN n_g <= 1 THEN NULL
            ELSE floor((CAST(s_g - v.c AS DOUBLE)
                        + {TE_SMOOTH}.0 * (CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)))
                       / CAST(n_g - 1 + {TE_SMOOTH} AS DOUBLE) / 100.0
                       * 1000000 + 0.5) / 1000000.0
       END AS loo6
FROM vals v JOIN g ON v.c_mktsegment = g.c_mktsegment, tot
WHERE v.c_custkey % {TE_MOD} = 0
ORDER BY v.c_custkey
"""


def chi2_feature_select(lineitem):
    """Chi-square feature ranking against the l_returnflag label over
    four candidate categorical features (linestatus, quantity bucket,
    discount bucket, ship month) — the univariate filter step of a
    feature-selection pass, in ONE scan: each row explodes into its
    four (feature, value, label) observations map-side, one shuffle to
    the bounded (feature, value, label) cell grain, and everything
    after runs on that metadata-sized table (margins via tiny
    aggregates, ranking via a 4-row self-join).

    Exactness: the same exact-root chi-square form as
    stat_chi2_independence; per-cell contributions are micro-quantized
    to int64 BEFORE the per-feature sum, so the total never depends on
    float fold order (the repo-wide partitioning-invariance rule)."""
    feats = F.array(
        F.struct(F.lit("linestatus").alias("f"), F.col("l_linestatus").alias("val")),
        F.struct(
            F.lit("qty_bucket").alias("f"),
            F.floor(F.col("l_quantity") / 10).cast("string").alias("val"),
        ),
        F.struct(
            F.lit("disc_bucket").alias("f"),
            F.floor(
                F.floor(F.col("l_discount") * 100 + F.lit(0.5)) / 2
            ).cast("string").alias("val"),
        ),
        F.struct(
            F.lit("ship_month").alias("f"),
            F.month("l_shipdate").cast("string").alias("val"),
        ),
    )
    obs3 = lineitem.select(
        F.col("l_returnflag").alias("label"), F.explode(feats).alias("fv")
    ).select("label", F.col("fv.f").alias("f"), F.col("fv.val").alias("val"))
    cells = obs3.groupBy("f", "val", "label").agg(
        F.count(F.lit(1)).alias("obs")
    )
    # the BOUNDED (feature, value, label) cell grain feeds three margin
    # aggregates plus the contribution join; truncate lineage so the
    # fact scan + 4-way explode runs once, not once per consumer
    # (before r11: 24 parquet scans in one physical plan)
    cells = truncate_lineage(cells)
    rt = cells.groupBy("f", "val").agg(F.sum("obs").alias("row_tot"))
    ct = cells.groupBy("f", "label").agg(F.sum("obs").alias("col_tot"))
    tt = cells.groupBy("f").agg(F.sum("obs").alias("t_tot"))
    j = (
        cells.join(F.broadcast(rt), ["f", "val"])
        .join(F.broadcast(ct), ["f", "label"])
        .join(F.broadcast(tt), "f")
    )
    root = F.col("obs") * F.col("t_tot") - F.col("row_tot") * F.col("col_tot")
    contrib_micro = F.floor(
        root.cast("double")
        * root.cast("double")
        / (F.col("t_tot") * F.col("row_tot") * F.col("col_tot")).cast("double")
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    # level counts come from the margin tables, NOT countDistinct: two
    # distinct aggregates in one groupBy trigger RewriteDistinctAggregates,
    # whose Expand projection order is exprId-dependent (session-order
    # nondeterminism — the same artifact round 5 fixed in
    # click_attribution) and whose 3x row multiplication is pure waste
    # when the margins already exist
    per_f = j.groupBy("f").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(contrib_micro).alias("chi2_micro"),
    )
    nv = rt.groupBy("f").agg(F.count(F.lit(1)).alias("n_vals"))
    nl = ct.groupBy("f").agg(F.count(F.lit(1)).alias("n_labels"))
    per_f = per_f.join(F.broadcast(nv), "f").join(F.broadcast(nl), "f")
    per_f = per_f.select(
        "f",
        "n_cells",
        ((F.col("n_vals") - 1) * (F.col("n_labels") - 1)).alias("dof"),
        (F.col("chi2_micro") / 1000000.0).alias("chi2_6"),
        F.col("chi2_micro").alias("_cm"),
    )
    a = per_f
    b = per_f.select(F.col("f").alias("f2"), F.col("_cm").alias("cm2"))
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("cm2") > F.col("_cm"))
            | ((F.col("cm2") == F.col("_cm")) & (F.col("f2") < F.col("f"))),
            "left",
        )
        .groupBy("f", "n_cells", "dof", "chi2_6")
        .agg((F.count("f2") + 1).alias("rnk"))
    )
    return ranked.orderBy("rnk")


def _feature_chi2_select(spark, sf_dir):
    return chi2_feature_select(t(spark, sf_dir, "lineitem"))


_CHI2SEL_SQL = """
WITH obs3 AS (
  SELECT l_returnflag AS label, u.f, u.val
  FROM lineitem, LATERAL (
    SELECT * FROM (VALUES
      ('linestatus', l_linestatus),
      ('qty_bucket', CAST(CAST(floor(l_quantity / 10) AS BIGINT) AS VARCHAR)),
      ('disc_bucket', CAST(CAST(floor(floor(l_discount * 100 + 0.5) / 2) AS BIGINT) AS VARCHAR)),
      ('ship_month', CAST(CAST(month(l_shipdate) AS BIGINT) AS VARCHAR))
    ) AS t(f, val)
  ) u
),
cells AS (
  SELECT f, val, label, CAST(count(*) AS BIGINT) AS obs
  FROM obs3 GROUP BY 1, 2, 3
),
rt AS (SELECT f, val, CAST(sum(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1, 2),
ct AS (SELECT f, label, CAST(sum(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1, 2),
tt AS (SELECT f, CAST(sum(obs) AS BIGINT) AS t_tot FROM cells GROUP BY 1),
contribs AS (
  SELECT cells.f,
         CAST(floor(
           CAST(obs * t_tot - row_tot * col_tot AS DOUBLE)
           * CAST(obs * t_tot - row_tot * col_tot AS DOUBLE)
           / CAST(t_tot * row_tot * col_tot AS DOUBLE)
           * 1000000 + 0.5) AS BIGINT) AS contrib_micro,
         cells.val, cells.label
  FROM cells
  JOIN rt ON cells.f = rt.f AND cells.val = rt.val
  JOIN ct ON cells.f = ct.f AND cells.label = ct.label
  JOIN tt ON cells.f = tt.f
),
per_f AS (
  SELECT f, CAST(count(*) AS BIGINT) AS n_cells,
         CAST((count(DISTINCT val) - 1) * (count(DISTINCT label) - 1) AS BIGINT) AS dof,
         CAST(sum(contrib_micro) AS BIGINT) AS cm
  FROM contribs GROUP BY f
)
SELECT a.f, a.n_cells, a.dof, a.cm / 1000000.0 AS chi2_6,
       CAST(1 + count(b.f) AS BIGINT) AS rnk
FROM per_f a LEFT JOIN per_f b
  ON b.cm > a.cm OR (b.cm = a.cm AND b.f < a.f)
GROUP BY a.f, a.n_cells, a.dof, a.cm
ORDER BY rnk
"""

OH_MOD = 11


# customer market segments are a closed enum of the fixture schema —
# encoding against a DECLARED vocabulary is the production shape (a
# data-derived vocabulary would make the output schema data-dependent,
# which no trainer accepts); unseen values fall through to all-zeros.
MKT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def onehot_encode(customer, mod: int = OH_MOD):
    """One-hot encoding of c_mktsegment against the DECLARED segment
    vocabulary plus a negative-balance indicator, on a deterministic
    subset.  Scan-only: fixed output schema, zero shuffles, zero joins
    — the shape a feature-store materialization job has, where the
    vocabulary is a contract, not a discovery (a data-derived vocab
    would make the schema data-dependent mid-pipeline).

    Unseen segment values encode as all-zeros (the standard
    handle-unknown=ignore contract)."""
    cols = [
        F.when(F.col("c_mktsegment") == seg, 1)
        .otherwise(0)
        .cast("int")
        .alias(f"seg_{seg.lower()}")
        for seg in MKT_SEGMENTS
    ]
    return (
        customer.where(F.pmod(F.col("c_custkey"), F.lit(mod)) == 0)
        .select(
            "c_custkey",
            *cols,
            (cents(F.col("c_acctbal")) < 0).cast("int").alias("bal_neg"),
        )
        .orderBy("c_custkey")
    )


def _feature_onehot_encode(spark, sf_dir):
    return onehot_encode(t(spark, sf_dir, "customer"))


_OH_SQL = f"""
SELECT c_custkey,
       {", ".join(f"CAST(CASE WHEN c_mktsegment = '{s}' THEN 1 ELSE 0 END AS INTEGER) AS seg_{s.lower()}" for s in MKT_SEGMENTS)},
       CAST(CASE WHEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) < 0
                 THEN 1 ELSE 0 END AS INTEGER) AS bal_neg
FROM customer WHERE c_custkey % {OH_MOD} = 0 ORDER BY c_custkey
"""

SEASONAL_HALF = 12  # centered moving-average half-width (hours)


def seasonal_decompose(events, half: int = SEASONAL_HALF):
    """Classical additive seasonal decomposition of the hourly value
    stream: trend = centered (2·half+1)-hour moving average, seasonal =
    per hour-of-day mean residual — restated WITHOUT any window or
    range join: each hour row scatters into the 25 centered windows it
    belongs to (a map-side ±half explode on the CALENDAR-BOUNDED hour
    grain), so the moving average is one aggregate.  Only complete
    windows (all 25 hours present) contribute, the standard edge rule.

    Exactness: residuals stay scaled by the window size
    (resid25 = 25·tot − Σwindow, exact int64) so the per-hour-of-day
    mean is a single quantized division of integer sums.

    Scale shape: everything after the first aggregate runs at the hour
    grain — 8760 rows/year no matter how many events — and the
    hour-of-day rollup is 24 groups."""
    width = 2 * half + 1
    hourly = (
        events.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
            cents(F.col("value")).alias("c"),
        )
        .groupBy("hidx")
        .agg(F.sum("c").alias("tot"))
    )
    expand = hourly.select(
        "hidx",
        "tot",
        F.explode(F.sequence(F.lit(-half), F.lit(half))).alias("off"),
    ).select((F.col("hidx") + F.col("off")).alias("tgt"), "tot")
    win = expand.groupBy("tgt").agg(
        F.sum("tot").alias("wsum"), F.count(F.lit(1)).alias("wcnt")
    )
    j = hourly.join(win, hourly.hidx == win.tgt).where(F.col("wcnt") == width)
    resid = j.select(
        F.pmod(F.col("hidx"), F.lit(24)).alias("hour_of_day"),
        (F.lit(width) * F.col("tot") - F.col("wsum")).alias("resid_w"),
    )
    return (
        resid.groupBy("hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("resid_w").alias("rs"),
        )
        .select(
            "hour_of_day",
            "n_obs",
            F.floor(
                F.col("rs")
                * 100.0
                / (F.lit(width) * F.col("n_obs")).cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("seasonal_c2"),
        )
        .orderBy("hour_of_day")
    )


def _ts_seasonal_decompose(spark, sf_dir):
    return seasonal_decompose(t(spark, sf_dir, "events"))


_SEASONAL_SQL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hidx,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS tot
  FROM events GROUP BY 1
),
expand AS (
  SELECT hidx + o.off AS tgt, tot
  FROM hourly, (SELECT unnest(range(-{SEASONAL_HALF}, {SEASONAL_HALF + 1})) AS off) o
),
win AS (
  SELECT tgt, CAST(sum(tot) AS BIGINT) AS wsum, CAST(count(*) AS BIGINT) AS wcnt
  FROM expand GROUP BY tgt
),
resid AS (
  SELECT hidx % 24 AS hour_of_day,
         CAST({2 * SEASONAL_HALF + 1} * tot - wsum AS BIGINT) AS resid_w
  FROM hourly JOIN win ON hourly.hidx = win.tgt
  WHERE wcnt = {2 * SEASONAL_HALF + 1}
)
SELECT hour_of_day, CAST(count(*) AS BIGINT) AS n_obs,
       CAST(floor(CAST(sum(resid_w) AS DOUBLE) * 100.0
                  / CAST({2 * SEASONAL_HALF + 1} * count(*) AS DOUBLE)
                  + 0.5) AS BIGINT) AS seasonal_c2
FROM resid GROUP BY hour_of_day ORDER BY hour_of_day
"""

DID_SPLIT_NUM = 1  # post-period starts at min + (max-min)*1/2


def did_estimator(events):
    """Difference-in-differences over the event value stream: treatment
    = user-id parity (the hash-split a real experiment assigns), post
    = second half of the observation window (boundary from the
    broadcast min/max — pure integer micros arithmetic).  The four
    cell means are quantized IEEE divisions of integer cent sums; the
    DiD estimate is their closed form.  One scan, one 4-row aggregate.
    """
    span = events.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    j = events.select(
        "user_id", "ts", cents(F.col("value")).alias("c")
    ).join(F.broadcast(span))
    cut = F.expr(f"lo + (hi - lo) * {DID_SPLIT_NUM} div 2")
    cells = j.select(
        F.pmod(F.col("user_id"), F.lit(2)).alias("treat"),
        (F.unix_micros("ts") >= cut).cast("int").alias("post"),
        "c",
    ).groupBy("treat", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    named = cells.select(
        F.concat(F.lit("m"), F.col("treat"), F.col("post")).alias("cell"),
        m.alias("mean_c"),
        "n",
    )
    wide = named.groupBy().pivot(
        "cell", ["m00", "m01", "m10", "m11"]
    ).agg(F.first("mean_c"))
    q6 = lambda x: F.floor(x * 1000000 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return wide.select(
        q6(F.col("m00")).alias("ctrl_pre6"),
        q6(F.col("m01")).alias("ctrl_post6"),
        q6(F.col("m10")).alias("treat_pre6"),
        q6(F.col("m11")).alias("treat_post6"),
        q6(
            (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
        ).alias("did6"),
    )


def _events_did_estimator(spark, sf_dir):
    return did_estimator(t(spark, sf_dir, "events"))


_DID_SQL = f"""
WITH span AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events),
cells AS (
  SELECT user_id % 2 AS treat,
         CASE WHEN epoch_us(ts) >= lo + (hi - lo) * {DID_SPLIT_NUM} // 2
              THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM events, span GROUP BY 1, 2
),
m AS (
  SELECT treat, post, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c
  FROM cells
)
SELECT
  floor(max(CASE WHEN treat = 0 AND post = 0 THEN mean_c END) * 1000000 + 0.5) / 1000000.0 AS ctrl_pre6,
  floor(max(CASE WHEN treat = 0 AND post = 1 THEN mean_c END) * 1000000 + 0.5) / 1000000.0 AS ctrl_post6,
  floor(max(CASE WHEN treat = 1 AND post = 0 THEN mean_c END) * 1000000 + 0.5) / 1000000.0 AS treat_pre6,
  floor(max(CASE WHEN treat = 1 AND post = 1 THEN mean_c END) * 1000000 + 0.5) / 1000000.0 AS treat_post6,
  floor(((max(CASE WHEN treat = 1 AND post = 1 THEN mean_c END)
          - max(CASE WHEN treat = 1 AND post = 0 THEN mean_c END))
         - (max(CASE WHEN treat = 0 AND post = 1 THEN mean_c END)
            - max(CASE WHEN treat = 0 AND post = 0 THEN mean_c END)))
        * 1000000 + 0.5) / 1000000.0 AS did6
FROM m
"""

KM_CENSOR_H = 48  # users active within the last 48h are censored

KM_BUCKET = 64  # coarse bucket for the duration-grain prefix sum


def survival_km(events, censor_h: int = KM_CENSOR_H):
    """Kaplan-Meier survival of user lifetime (hours from first to
    last event), with users still active in the final ``censor_h``
    hours of the observation window right-censored — the
    churn/retention curve at its textbook estimator.

    Exactness: at each distinct event duration t, n_at_risk and
    d_events are integers from the duration-grain prefix sum
    (hierarchical, coarse-bucketed — durations are calendar-bounded);
    the product Π(1 − d/n) is carried in EXACT log space — each
    factor's −ln quantizes to nano-nats int64 BEFORE the cumulative
    sum (the per-term rule every ln-using key follows) — and the
    survival probability is the one exp at the very end.

    Scale shape: one shuffle to user grain, one to the bounded
    duration grain; everything after is metadata-sized."""
    per_user = events.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    horizon = events.agg(F.max(F.unix_micros("ts")).alias("hmax"))
    u = per_user.join(F.broadcast(horizon)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("dur_h"),
        (
            F.col("last_us")
            < F.col("hmax") - censor_h * 3600000000
        ).cast("long").alias("is_event"),
    )
    g = u.groupBy("dur_h").agg(
        F.count(F.lit(1)).alias("n_at"), F.sum("is_event").alias("d")
    )
    # the CALENDAR-BOUNDED duration grain feeds three consumers (total,
    # within-bucket window, bucket totals); truncate lineage so the
    # events scan + user aggregate run once, not once per consumer
    # (before r11: 40 parquet scans in one physical plan)
    g = truncate_lineage(g)
    tot = g.agg(F.sum("n_at").alias("n_users"))
    g = g.withColumn("bkt", F.floor(F.col("dur_h") / KM_BUCKET))
    w = (
        Window.partitionBy("bkt")
        .orderBy("dur_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g.select(
        "dur_h", "bkt", "n_at", "d", F.sum("n_at").over(w).alias("cin")
    )
    btot = g.groupBy("bkt").agg(F.sum("n_at").alias("bn"))
    # bucket table is metadata-sized but behind the checkpoint the
    # planner has no size estimate — broadcast explicitly so the
    # inequality join is BNLJ-over-bounded-build, never a cartesian
    offs = (
        btot.select(F.col("bkt").alias("kk"))
        .join(
            F.broadcast(btot.select(F.col("bkt").alias("k2"), "bn")),
            F.col("k2") < F.col("kk"),
        )
        .groupBy("kk")
        .agg(F.sum("bn").alias("off"))
    )
    cum = (
        within.join(F.broadcast(offs), within.bkt == offs.kk, "left")
        .join(F.broadcast(tot))
        .select(
            "dur_h",
            "d",
            (
                F.col("n_users")
                - (F.col("cin") + F.coalesce("off", F.lit(0)))
                + F.col("n_at")
            ).alias("n_risk"),
        )
        .where(F.col("d") > 0)
    )
    # per-factor -ln(1 - d/n) in nano-nats, int64 BEFORE any sum
    term = F.when(F.col("d") >= F.col("n_risk"), F.lit(None)).otherwise(
        F.floor(
            -F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1000000000
            + F.lit(0.5)
        ).cast("long")
    )
    tl = cum.select("dur_h", "d", "n_risk", term.alias("t9"))
    tl = tl.withColumn("bkt", F.floor(F.col("dur_h") / KM_BUCKET))
    # same rule for the factor list (still duration-grain, d>0 rows
    # only): it feeds the second window AND its bucket totals
    tl = truncate_lineage(tl)
    w2 = (
        Window.partitionBy("bkt")
        .orderBy("dur_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within2 = tl.select(
        "dur_h", "d", "n_risk", "bkt", "t9",
        F.sum("t9").over(w2).alias("cin9"),
    )
    bt2 = tl.groupBy("bkt").agg(F.sum("t9").alias("b9"))
    offs2 = (
        bt2.select(F.col("bkt").alias("kk"))
        .join(
            F.broadcast(bt2.select(F.col("bkt").alias("k2"), "b9")),
            F.col("k2") < F.col("kk"),
        )
        .groupBy("kk")
        .agg(F.sum("b9").alias("off9"))
    )
    # a skip-null flat window carries the previous value across NULL
    # factors; the bucketed form must coalesce each level (NULL only
    # when NO non-null term exists anywhere in the prefix)
    out = within2.join(
        F.broadcast(offs2), within2.bkt == offs2.kk, "left"
    ).select(
        "dur_h",
        "n_risk",
        "d",
        F.when(
            F.col("cin9").isNull() & F.col("off9").isNull(), F.lit(None)
        )
        .otherwise(
            F.coalesce("cin9", F.lit(0)) + F.coalesce("off9", F.lit(0))
        )
        .alias("neglog9"),
    )
    return out.select(
        "dur_h",
        "n_risk",
        "d",
        "neglog9",
        (
            F.floor(
                F.exp(-F.col("neglog9").cast("double") / 1000000000.0)
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("s6"),
    ).orderBy("dur_h")


def _events_survival_km(spark, sf_dir):
    return survival_km(t(spark, sf_dir, "events"))


_KM_SQL = f"""
WITH per_user AS (
  SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id
),
horizon AS (SELECT max(epoch_us(ts)) AS hmax FROM events),
u AS (
  SELECT (last_us - first_us) // 3600000000 AS dur_h,
         CASE WHEN last_us < hmax - {KM_CENSOR_H} * 3600000000
              THEN 1 ELSE 0 END AS is_event
  FROM per_user, horizon
),
g AS (
  SELECT dur_h, CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(is_event) AS BIGINT) AS d
  FROM u GROUP BY dur_h
),
tot AS (SELECT CAST(sum(n_at) AS BIGINT) AS n_users FROM g),
cum AS (
  SELECT dur_h, d,
         CAST(n_users - sum(n_at) OVER (ORDER BY dur_h) + n_at AS BIGINT)
           AS n_risk
  FROM g, tot
),
terms AS (
  SELECT dur_h, d, n_risk,
         CASE WHEN d >= n_risk THEN NULL
              ELSE CAST(floor(-ln(CAST(n_risk - d AS DOUBLE)
                                  / CAST(n_risk AS DOUBLE))
                              * 1000000000 + 0.5) AS BIGINT)
         END AS t9
  FROM cum WHERE d > 0
)
SELECT dur_h, n_risk, d,
       CAST(sum(t9) OVER (ORDER BY dur_h) AS BIGINT) AS neglog9,
       floor(exp(-CAST(sum(t9) OVER (ORDER BY dur_h) AS DOUBLE) / 1000000000.0)
             * 1000000 + 0.5) / 1000000.0 AS s6
FROM terms ORDER BY dur_h
"""


TS_BUCKET2 = 1 << 16  # coarse bucket for the slope/residual medians


def _median_smallest(df, val_col: str, bucket: int = TS_BUCKET2, n_df=None):
    """Lower median (smallest v with 2·cum ≥ n) of an integer column,
    via the hierarchical coarse-bucket prefix sum — returns a 1-row
    DataFrame with column ``med``.  The grain is the distinct values of
    ``val_col``; the coarse offset build is bounded by
    value-range/bucket.

    ``n_df``: optional precomputed 1-row total-count frame (column
    ``nn``). When the caller can derive the row count arithmetically
    (theil_sen: n_pairs = n·(n−1)/2 from the hour-grain count), passing
    it here avoids a SECOND full execution of ``df`` — for theil_sen's
    pair generator that second run was a whole extra O(n²) nested-loop
    join per median (r11, guide §1.2/§2.4)."""
    g = df.groupBy(val_col).agg(F.count(F.lit(1)).alias("cnt"))
    g = g.withColumn("bkt", F.floor(F.col(val_col) / bucket))
    w = (
        Window.partitionBy("bkt")
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g.select(
        val_col, "bkt", "cnt", F.sum("cnt").over(w).alias("cin")
    )
    btot = g.groupBy("bkt").agg(F.sum("cnt").alias("bc"))
    # the coarse table is metadata-sized (value-range/bucket rows) but
    # its post-shuffle stats are unknown to the planner — broadcast
    # explicitly so the inequality join is BNLJ-over-bounded-build,
    # never a cartesian
    offs = (
        btot.select(F.col("bkt").alias("kk"))
        .join(
            F.broadcast(btot.select(F.col("bkt").alias("k2"), "bc")),
            F.col("k2") < F.col("kk"),
        )
        .groupBy("kk")
        .agg(F.sum("bc").alias("off"))
    )
    n = df.agg(F.count(F.lit(1)).alias("nn")) if n_df is None else n_df
    cum = (
        within.join(F.broadcast(offs), within.bkt == offs.kk, "left")
        .join(F.broadcast(n))
        .select(
            F.col(val_col).alias("v"),
            (F.col("cin") + F.coalesce("off", F.lit(0))).alias("cum"),
            "nn",
        )
    )
    return cum.agg(
        F.min(F.when(2 * F.col("cum") >= F.col("nn"), F.col("v"))).alias("med")
    )


def theil_sen(events, max_points: int | None = None):
    """Theil-Sen robust trend of the hourly value series: the median of
    all pairwise slopes, then the median residual intercept — the
    estimator that shrugs off the outliers OLS chases.  The pair join
    is a self-join of the CALENDAR-BOUNDED hour grain (8760 rows/year
    regardless of event count — the seasonal_decompose argument), and
    both medians are EXACT order statistics over milli-quantized
    integer slopes via the hierarchical prefix machinery.

    ``max_points`` is the LONG-SPAN escape hatch: the exact all-pairs
    form is quadratic in the hour grain —
    fine to roughly a 2-year span (~17.5k hours → ~1.5e8 pairs, still
    one shuffle-light join at cluster scale) but at 10 years it is
    ~3.8e9 pairs. Past that crossover, pass ``max_points`` (e.g. 8192):
    the hour grain is decimated by SYSTEMATIC sampling — every
    ceil(n/max_points)-th hour offset, deterministic and evenly spaced
    in time, which preserves trend geometry better than random pair
    sampling — and the same exact-median machinery runs on the
    subsample (≤ max_points²/2 pairs). Default None = exact; the
    registered key uses the default, so the oracle is unchanged.

    Output: point/pair counts, median slope (milli-cents per hour),
    median intercept (milli-cents at hour 0 of the series)."""
    hourly = (
        events.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
            cents(F.col("value")).alias("c"),
        )
        .groupBy("hidx")
        .agg(F.sum("c").alias("tot"))
    )
    h0 = hourly.agg(F.min("hidx").alias("h0"))
    hh = hourly.join(F.broadcast(h0)).select(
        (F.col("hidx") - F.col("h0")).alias("x"), "tot"
    )
    if max_points is not None:
        # stride from a 1-row broadcast count (no eager collect); keep
        # every stride-th point IN RANK ORDER — decimating on the x
        # VALUE (x % stride) silently keeps everything whenever the
        # series has regular gaps the stride divides (e.g. 4-hourly
        # data, stride 2), which is exactly the long-span shape this
        # hatch exists for. The global row_number runs at the
        # calendar-bounded hour grain (≤ 8760·years rows — metadata-
        # sized, same contract as the compaction planner's window).
        nn = hh.agg(F.count(F.lit(1)).alias("nn"))
        stride = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("nn") / F.lit(max_points)).cast("long"),
        )
        rn = F.row_number().over(Window.orderBy("x")) - 1
        hh = (
            hh.withColumn("rn", rn)
            .join(F.broadcast(nn))
            .filter(F.col("rn") % stride == 0)
            .drop("rn", "nn")
        )
    # Truncate lineage at the CALENDAR-BOUNDED hour grain (8760
    # rows/year at any event volume — the same bounded-intermediate
    # argument as the power-iteration table): hh feeds the pair
    # generator (twice), the residual pass, and the count row, and each
    # of those is itself referenced by the median machinery — without
    # truncation the physical plan re-derived the events scan +
    # aggregate 326 times (4,799-line plan, measured r11).
    hh = truncate_lineage(hh)
    nn = hh.agg(F.count(F.lit(1)).alias("nn"))
    a = hh.select(F.col("x").alias("xa"), F.col("tot").alias("ya"))
    b = hh.select(F.col("x").alias("xb"), F.col("tot").alias("yb"))
    # codegen can evaluate the projection before the nested-loop join's
    # condition filters xa == xb rows — guard the division inside the
    # expression (the CASE arm never survives to the output)
    pairs = a.join(b, F.col("xa") < F.col("xb")).select(
        F.expr(
            "CASE WHEN xb > xa THEN div(1000 * (yb - ya), xb - xa) END"
        ).alias("slope_m")
    )
    # both median totals derive arithmetically from the hour-grain
    # count (n_pairs = n·(n−1)/2) — without n_df the median machinery
    # re-executed its input for the count, i.e. a second full O(n²)
    # pair join for the slope median
    # integer division: nn·(nn−1) is always even, so ``div`` is exact in
    # int64 at ANY grain; the old float-divide-then-cast was exact only
    # while nn² < 2^53 (fine at the hour grain, a silent off-by-one risk
    # if the helper is ever reused on an unbounded grain)
    n_pairs_df = nn.select(
        F.expr("(nn * (nn - 1)) div 2").cast("long").alias("nn")
    )
    med_slope = _median_smallest(pairs, "slope_m", n_df=n_pairs_df)
    resid = hh.join(F.broadcast(med_slope)).select(
        (1000 * F.col("tot") - F.col("med") * F.col("x")).alias("r_m")
    )
    med_int = _median_smallest(resid, "r_m", n_df=nn).select(
        F.col("med").alias("intercept_m")
    )
    counts = hh.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr("CAST(count(1) * (count(1) - 1) div 2 AS BIGINT)").alias(
            "n_pairs"
        ),
    )
    return (
        counts.join(F.broadcast(med_slope))
        .join(F.broadcast(med_int))
        .select(
            "n_points",
            "n_pairs",
            F.col("med").alias("slope_milli"),
            "intercept_m",
        )
    )


def _ts_theil_sen(spark, sf_dir):
    return theil_sen(t(spark, sf_dir, "events"))


_THEIL_SQL = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hidx,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS tot
  FROM events GROUP BY 1
),
h0 AS (SELECT min(hidx) AS h0 FROM hourly),
hh AS (SELECT hidx - h0 AS x, tot FROM hourly, h0),
pairs AS (
  SELECT (1000 * (b.tot - a.tot)) // (b.x - a.x) AS slope_m
  FROM hh a JOIN hh b ON a.x < b.x
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
cums AS (
  SELECT slope_m AS v,
         CAST(sum(count(*)) OVER (ORDER BY slope_m) AS BIGINT) AS cum
  FROM pairs GROUP BY slope_m
),
med_s AS (
  SELECT min(CASE WHEN 2 * cum >= n_pairs THEN v END) AS med
  FROM cums, np
),
resid AS (
  SELECT 1000 * tot - med * x AS r_m FROM hh, med_s
),
nr AS (SELECT CAST(count(*) AS BIGINT) AS n_r FROM resid),
cumr AS (
  SELECT r_m AS v, CAST(sum(count(*)) OVER (ORDER BY r_m) AS BIGINT) AS cum
  FROM resid GROUP BY r_m
),
med_i AS (
  SELECT min(CASE WHEN 2 * cum >= n_r THEN v END) AS intercept_m
  FROM cumr, nr
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM hh) AS n_points,
       (SELECT n_pairs FROM np) AS n_pairs,
       med AS slope_milli, intercept_m
FROM med_s, med_i
"""

CP_BUCKET = 64  # coarse hour-bucket width for the hierarchical prefix


def changepoint_sse(events):
    """Single best changepoint by least squares (the binary-segmentation
    primitive, Scott & Knott 1974): over the hourly value series, find
    the split minimizing SSE_left + SSE_right and report both segment
    means — the level-shift detector a pipeline runs on its own volume
    and quality metrics.

    Exactness: hourly totals are int64 dollars; every candidate's cost
    is the identical double expression over exact int64 prefix sums
    (sum, sum-of-squares, count per side), micro-quantized BEFORE the
    argmin, so the argmin compares int64. Scale shape: one shuffle to
    the calendar-bounded hour grain, prefix sums via the coarse-bucket
    hierarchical identity (no partition-less window), candidate
    evaluation is embarrassingly per-row, and the argmin is one
    max(struct) aggregate."""
    hourly = (
        events.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
            cents(F.col("value")).alias("cts"),
        )
        .groupBy("hidx")
        .agg(F.expr("sum(cts) div 100").alias("y"))
    )
    hourly = hourly.withColumn("bkt", F.expr(f"hidx div {CP_BUCKET}"))
    w = (
        Window.partitionBy("bkt")
        .orderBy("hidx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = hourly.select(
        "hidx",
        "y",
        "bkt",
        F.count(F.lit(1)).over(w).alias("c_in"),
        F.sum("y").over(w).alias("sy_in"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy_in"),
    )
    bagg = hourly.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("bc"),
        F.sum("y").alias("bsy"),
        F.sum(F.col("y") * F.col("y")).alias("bsyy"),
    )
    offs = (
        bagg.select(F.col("bkt").alias("k"))
        .join(
            bagg.select(F.col("bkt").alias("k2"), "bc", "bsy", "bsyy"),
            F.col("k2") < F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum("bc").alias("oc"),
            F.sum("bsy").alias("osy"),
            F.sum("bsyy").alias("osyy"),
        )
    )
    cum = within.join(F.broadcast(offs), within.bkt == offs.k, "left").select(
        "hidx",
        "y",
        (F.coalesce("oc", F.lit(0)) + F.col("c_in")).alias("cum_n"),
        (F.coalesce("osy", F.lit(0)) + F.col("sy_in")).alias("cum_sy"),
        (F.coalesce("osyy", F.lit(0)) + F.col("syy_in")).alias("cum_syy"),
    )
    g = hourly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cand = (
        cum.join(F.broadcast(g))
        .select(
            "hidx",
            (F.col("cum_n") - 1).alias("nl"),
            (F.col("cum_sy") - F.col("y")).alias("syl"),
            (F.col("cum_syy") - F.col("y") * F.col("y")).alias("syyl"),
            (F.col("n") - F.col("cum_n") + 1).alias("nr"),
            (F.col("sy") - F.col("cum_sy") + F.col("y")).alias("syr"),
            (
                F.col("syy") - F.col("cum_syy") + F.col("y") * F.col("y")
            ).alias("syyr"),
            "n",
            "sy",
            "syy",
        )
        .where((F.col("nl") >= 1) & (F.col("nr") >= 1))
        .select(
            "*",
            F.floor(
                (
                    F.col("syyl").cast("double")
                    - F.col("syl").cast("double")
                    * F.col("syl").cast("double")
                    / F.col("nl").cast("double")
                    + F.col("syyr").cast("double")
                    - F.col("syr").cast("double")
                    * F.col("syr").cast("double")
                    / F.col("nr").cast("double")
                )
                * 1000000
                + F.lit(0.5)
            ).alias("cost_micro"),
        )
    )
    best = cand.groupBy("n", "sy", "syy").agg(
        F.min(
            F.struct(
                "cost_micro", "hidx", "nl", "nr", "syl", "syr"
            )
        ).alias("m")
    )
    return best.select(
        F.col("n").alias("n_hours"),
        F.col("m.hidx").alias("best_split_hidx"),
        F.col("m.nl").alias("n_left"),
        F.col("m.nr").alias("n_right"),
        F.expr("(1000 * m.syl) div m.nl").alias("mean_left_milli"),
        F.expr("(1000 * m.syr) div m.nr").alias("mean_right_milli"),
        F.col("m.cost_micro").alias("cost_micro"),
        F.floor(
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double")
                * F.col("sy").cast("double")
                / F.col("n").cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("sse_total_micro"),
    )


def _ts_changepoint_sse(spark, sf_dir):
    return changepoint_sse(t(spark, sf_dir, "events"))


_CP_SQL = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hidx,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             // 100 AS y
  FROM events GROUP BY 1
),
cum AS (
  SELECT hidx, y,
         CAST(count(*) OVER (ORDER BY hidx) AS BIGINT) AS cum_n,
         CAST(sum(y) OVER (ORDER BY hidx) AS BIGINT) AS cum_sy,
         CAST(sum(y * y) OVER (ORDER BY hidx) AS BIGINT) AS cum_syy
  FROM hourly
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM hourly
),
cand AS (
  SELECT hidx,
         cum_n - 1 AS nl, cum_sy - y AS syl, cum_syy - y * y AS syyl,
         n - cum_n + 1 AS nr, sy - cum_sy + y AS syr,
         syy - cum_syy + y * y AS syyr,
         n, sy, syy
  FROM cum, g
  WHERE cum_n - 1 >= 1 AND n - cum_n + 1 >= 1
),
scored AS (
  SELECT *,
         CAST(floor((CAST(syyl AS DOUBLE)
                     - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)
                       / CAST(nl AS DOUBLE)
                     + CAST(syyr AS DOUBLE)
                     - CAST(syr AS DOUBLE) * CAST(syr AS DOUBLE)
                       / CAST(nr AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS cost_micro
  FROM cand
)
SELECT n AS n_hours, hidx AS best_split_hidx, nl AS n_left, nr AS n_right,
       (1000 * syl) // nl AS mean_left_milli,
       (1000 * syr) // nr AS mean_right_milli,
       cost_micro,
       CAST(floor((CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                     / CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
           AS sse_total_micro
FROM scored ORDER BY cost_micro ASC, hidx ASC LIMIT 1
"""

SEQ_A = "view"

SEQ_B = "purchase"

SEQ_NOT = "error"

SEQ_WINDOW_S = 7 * 86400

SEQ_BUCKET_S = 86400


def seq_pattern(events):
    """Complex-event sequence matcher: per user, occurrences of
    "A then B within W, with NO C strictly between" (view -> purchase
    within 7 days, uninterrupted by an error) at the seconds grain —
    the MATCH_RECOGNIZE-style pattern a funnel with a veto condition
    needs, which plain funnels and last-touch attribution cannot
    express.

    Semantics: for each A event, the EARLIEST qualifying B; the match
    survives iff no C lands in the open interval (tsA, tsB). Output is
    the per-user match profile (count, min/max gap seconds).

    Scale shape: both the A->B candidate step and the C-veto step are
    the repo's bucketed interval equi-join (ops.relational.
    range_join_bucketed — day buckets, <= 8 expansion rows per
    interval, residual filter after an equi match; never a nested-loop
    time join); earliest-B is one aggregate at the A grain and the veto
    is one anti-join on the match key."""
    from .ops.relational import range_join_bucketed

    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
    )
    a = base.where(F.col("event_type") == SEQ_A).select(
        "user_id",
        F.col("event_id").alias("aid"),
        F.col("ts_s").alias("ta"),
        (F.col("ts_s") + 1).alias("s0"),
        (F.col("ts_s") + SEQ_WINDOW_S + 1).alias("s1"),
    )
    b = base.where(F.col("event_type") == SEQ_B).select(
        "user_id", F.col("ts_s").alias("es")
    )
    firstb = (
        range_join_bucketed(a, b, "user_id", SEQ_BUCKET_S)
        .groupBy("user_id", "aid", "ta")
        .agg(F.min("es").alias("tb"))
    )
    veto_iv = firstb.select(
        "user_id",
        "aid",
        (F.col("ta") + 1).alias("s0"),
        F.col("tb").alias("s1"),
    )
    c = base.where(F.col("event_type") == SEQ_NOT).select(
        "user_id", F.col("ts_s").alias("es")
    )
    vetoed = range_join_bucketed(veto_iv, c, "user_id", SEQ_BUCKET_S).select(
        "user_id", "aid"
    ).distinct()
    good = firstb.join(vetoed, ["user_id", "aid"], "left_anti")
    return (
        good.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min(F.col("tb") - F.col("ta")).alias("min_gap_s"),
            F.max(F.col("tb") - F.col("ta")).alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


def _events_seq_pattern(spark, sf_dir):
    return seq_pattern(t(spark, sf_dir, "events"))


_SEQ_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) // 1000000 AS ts_s
  FROM events
),
a AS (SELECT user_id, event_id AS aid, ts_s AS ta FROM base
      WHERE event_type = '{SEQ_A}'),
b AS (SELECT user_id, ts_s AS tb FROM base WHERE event_type = '{SEQ_B}'),
c AS (SELECT user_id, ts_s AS tc FROM base WHERE event_type = '{SEQ_NOT}'),
firstb AS (
  SELECT a.user_id, a.aid, a.ta, min(b.tb) AS tb
  FROM a JOIN b ON b.user_id = a.user_id
   AND b.tb > a.ta AND b.tb <= a.ta + {SEQ_WINDOW_S}
  GROUP BY 1, 2, 3
),
good AS (
  SELECT f.* FROM firstb f
  WHERE NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = f.user_id AND c.tc > f.ta AND c.tc < f.tb
  )
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
       min(tb - ta) AS min_gap_s, max(tb - ta) AS max_gap_s
FROM good GROUP BY user_id ORDER BY user_id
"""


def cuped_adjust(events):
    """CUPED variance-reduced A/B effect (Deng et al. 2013): users hash
    into two arms; the pre-period metric (spend before the stream's
    integer midpoint) is the control covariate for the post-period
    metric; theta = cov(pre,post)/var(pre) pooled, and the adjusted
    effect is mean_A(post - theta*(pre - mean(pre))) minus the same for
    B — the experiment-sensitivity booster every mature A/B platform
    ships.

    Exactness: user-grain pre/post sums are int64 DOLLARS (cents div
    100 keeps the cross-moment sum inside int64 at 1000x the fixture
    scale); theta quantizes to micro before it touches the arm means,
    so both engines adjust with the identical rational theta; outputs
    are milli-quantized doubles over exact sums. Scale shape: one
    shuffle to the user grain, one to the (arm) grain, moments combine
    as broadcast 1-row aggregates."""
    mid = events.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    ).select(F.expr("t0 + (t1 - t0) div 2").alias("mid"))
    per_user = (
        events.join(F.broadcast(mid))
        .select(
            "user_id",
            F.when(
                F.unix_micros("ts") < F.col("mid"),
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100"),
            )
            .otherwise(0)
            .alias("pre_d"),
            F.when(
                F.unix_micros("ts") >= F.col("mid"),
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100"),
            )
            .otherwise(0)
            .alias("post_d"),
        )
        .groupBy("user_id")
        .agg(F.sum("pre_d").alias("pre"), F.sum("post_d").alias("post"))
        .select(
            "user_id",
            "pre",
            "post",
            (
                token_hash(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm"),
        )
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("sq"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("pre") * F.col("post")).alias("spq"),
    ).select(
        "*",
        F.floor(
            (
                F.col("n").cast("double") * F.col("spq").cast("double")
                - F.col("sp").cast("double") * F.col("sq").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("spp").cast("double")
                - F.col("sp").cast("double") * F.col("sp").cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("theta_micro"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum("pre").alias("sp_a"),
        F.sum("post").alias("sq_a"),
    )
    wide = (
        arms.join(F.broadcast(mom))
        .select(
            "arm",
            "n_a",
            (
                F.col("sq_a").cast("double") / F.col("n_a").cast("double")
                - F.col("theta_micro").cast("double")
                / 1.0e6
                * (
                    F.col("sp_a").cast("double") / F.col("n_a").cast("double")
                    - F.col("sp").cast("double") / F.col("n").cast("double")
                )
            ).alias("adj_mean"),
            (
                F.col("sq_a").cast("double") / F.col("n_a").cast("double")
            ).alias("raw_mean"),
            "theta_micro",
            "n",
        )
    )
    return (
        wide.groupBy("theta_micro", "n")
        .agg(
            F.sum("n_a").alias("n_users"),
            F.floor(
                F.sum(
                    F.when(F.col("arm") == 0, F.col("raw_mean")).otherwise(
                        -F.col("raw_mean")
                    )
                )
                * 1000
                + F.lit(0.5)
            ).alias("raw_diff_milli"),
            F.floor(
                F.sum(
                    F.when(F.col("arm") == 0, F.col("adj_mean")).otherwise(
                        -F.col("adj_mean")
                    )
                )
                * 1000
                + F.lit(0.5)
            ).alias("cuped_diff_milli"),
        )
        .select(
            "n_users", "theta_micro", "raw_diff_milli", "cuped_diff_milli"
        )
    )


def _events_cuped_adjust(spark, sf_dir):
    return cuped_adjust(t(spark, sf_dir, "events"))


_CUPED_SQL = """
WITH mid AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2
             AS mid
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN epoch_us(ts) < mid
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) // 100
                  ELSE 0 END) AS BIGINT) AS pre,
         CAST(sum(CASE WHEN epoch_us(ts) >= mid
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT) // 100
                  ELSE 0 END) AS BIGINT) AS post
  FROM events, mid GROUP BY user_id
),
armed AS (
  SELECT *,
         ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2 AS arm
  FROM per_user
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pre) AS BIGINT) AS sp, CAST(sum(post) AS BIGINT) AS sq,
         CAST(sum(pre * pre) AS BIGINT) AS spp,
         CAST(sum(pre * post) AS BIGINT) AS spq
  FROM armed
),
theta AS (
  SELECT *,
         CAST(floor((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
                     - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                       - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS theta_micro
  FROM mom
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_a,
         CAST(sum(pre) AS BIGINT) AS sp_a, CAST(sum(post) AS BIGINT) AS sq_a
  FROM armed GROUP BY arm
),
wide AS (
  SELECT arm, n_a, theta_micro, n,
         CAST(sq_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS raw_mean,
         CAST(sq_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         - CAST(theta_micro AS DOUBLE) / 1.0e6
           * (CAST(sp_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) AS adj_mean
  FROM arms, theta
)
SELECT CAST(sum(n_a) AS BIGINT) AS n_users,
       theta_micro,
       CAST(floor(sum(CASE WHEN arm = 0 THEN raw_mean ELSE -raw_mean END)
                  * 1000 + 0.5) AS BIGINT) AS raw_diff_milli,
       CAST(floor(sum(CASE WHEN arm = 0 THEN adj_mean ELSE -adj_mean END)
                  * 1000 + 0.5) AS BIGINT) AS cuped_diff_milli
FROM wide GROUP BY theta_micro, n
"""

LB_MAX_LAG = 6


def ljung_box(events, max_lag: int = LB_MAX_LAG):
    """Ljung-Box portmanteau test over the hourly value series:
    calendar-lag autocorrelations r_1..r_h and the Q statistic
    n(n+2) * sum r_k^2/(n-k) — the is-this-white-noise gate run on
    forecast residuals and on the stream's own volume series.

    Exactness: each lag's numerator expands around the exact rational
    mean (sy/n), so it needs only int64 sums (sum y_t*y_{t-k} and the
    overlap head/tail sums); r_k micro-quantizes per lag and Q sums the
    quantized lags. Scale shape: lags are EQUI self-joins on
    (hidx - k) at the calendar-bounded hour grain — no window at all —
    and the k lags expand by the literal max_lag factor before one
    grouped aggregate."""
    hourly = (
        events.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
            cents(F.col("value")).alias("cts"),
        )
        .groupBy("hidx")
        .agg(F.expr("sum(cts) div 100").alias("y"))
    )
    g = hourly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    lags = hourly.select(
        "hidx",
        "y",
        F.explode(
            F.array([F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("k"),
    )
    paired = lags.alias("a").join(
        hourly.alias("b"),
        F.expr("a.hidx - a.k = b.hidx"),
    ).select(
        F.col("a.k").alias("k"),
        F.col("a.y").alias("yt"),
        F.col("b.y").alias("ytk"),
    )
    per_k = paired.groupBy("k").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("yt") * F.col("ytk")).alias("ck"),
        F.sum("yt").alias("sh"),
        F.sum("ytk").alias("st"),
    )
    rk = (
        per_k.join(F.broadcast(g))
        .select(
            "k",
            "m",
            F.floor(
                (
                    F.col("ck").cast("double")
                    - F.col("sy").cast("double")
                    / F.col("n").cast("double")
                    * (F.col("sh") + F.col("st")).cast("double")
                    + F.col("m").cast("double")
                    * F.col("sy").cast("double")
                    * F.col("sy").cast("double")
                    / F.col("n").cast("double")
                    / F.col("n").cast("double")
                )
                / (
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double")
                    * F.col("sy").cast("double")
                    / F.col("n").cast("double")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("r_micro"),
            "n",
        )
    )
    q = rk.agg(
        F.floor(
            F.sum(
                F.col("r_micro").cast("double")
                * F.col("r_micro").cast("double")
                / 1.0e6
                / (F.col("n") - F.col("k")).cast("double")
            )
            * F.expr("any_value(n * (n + 2))").cast("double")
            / 1.0e6
            * 1000000
            + F.lit(0.5)
        ).alias("q_lb_micro")
    )
    return (
        rk.join(F.broadcast(q))
        .select("k", "m", "r_micro", "q_lb_micro")
        .orderBy("k")
    )


def _ts_ljung_box(spark, sf_dir):
    return ljung_box(t(spark, sf_dir, "events"))


_LB_SQL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hidx,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             // 100 AS y
  FROM events GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM hourly
),
paired AS (
  SELECT u.k, a.y AS yt, b.y AS ytk
  FROM hourly a, unnest(range(1, {LB_MAX_LAG} + 1)) AS u(k)
  JOIN hourly b ON a.hidx - u.k = b.hidx
),
per_k AS (
  SELECT k, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(yt * ytk) AS BIGINT) AS ck,
         CAST(sum(yt) AS BIGINT) AS sh, CAST(sum(ytk) AS BIGINT) AS st
  FROM paired GROUP BY 1
),
rk AS (
  SELECT CAST(k AS BIGINT) AS k, m,
         CAST(floor((CAST(ck AS DOUBLE)
                     - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                       * CAST(sh + st AS DOUBLE)
                     + CAST(m AS DOUBLE) * CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE)
                       / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                         / CAST(n AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS r_micro,
         n
  FROM per_k, g
),
q AS (
  SELECT CAST(floor(sum(CAST(r_micro AS DOUBLE) * CAST(r_micro AS DOUBLE)
                        / 1.0e6 / CAST(n - k AS DOUBLE))
                    * CAST(any_value(n * (n + 2)) AS DOUBLE) / 1.0e6
                    * 1000000 + 0.5) AS BIGINT) AS q_lb_micro
  FROM rk
)
SELECT k, m, r_micro, q_lb_micro FROM rk, q ORDER BY k
"""


def conversion_lag_pct(events):
    """Exact conversion-lag percentiles: the view->purchase gaps of the
    CEP matcher (earliest qualifying B, no veto) pooled across users,
    with p50/p90/p99 as EXACT order statistics over the distinct-gap
    grain — the SLA curve of the funnel, not just its count.

    One extra aggregate ladder over seq_pattern's verified match set:
    gaps collapse to the (distinct gap-second) grain, the percentile
    thresholds come from the standard 2*cum >= k*n lower-order-statistic
    rule (the repo's exact-percentile identity), and everything heavy
    stays on the bounded gap domain."""
    from .ops.relational import range_join_bucketed

    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
    )
    a = base.where(F.col("event_type") == SEQ_A).select(
        "user_id",
        F.col("event_id").alias("aid"),
        F.col("ts_s").alias("ta"),
        (F.col("ts_s") + 1).alias("s0"),
        (F.col("ts_s") + SEQ_WINDOW_S + 1).alias("s1"),
    )
    b = base.where(F.col("event_type") == SEQ_B).select(
        "user_id", F.col("ts_s").alias("es")
    )
    firstb = (
        range_join_bucketed(a, b, "user_id", SEQ_BUCKET_S)
        .groupBy("user_id", "aid", "ta")
        .agg(F.min("es").alias("tb"))
    )
    veto_iv = firstb.select(
        "user_id", "aid",
        (F.col("ta") + 1).alias("s0"), F.col("tb").alias("s1"),
    )
    c = base.where(F.col("event_type") == SEQ_NOT).select(
        "user_id", F.col("ts_s").alias("es")
    )
    vetoed = range_join_bucketed(
        veto_iv, c, "user_id", SEQ_BUCKET_S
    ).select("user_id", "aid").distinct()
    gaps = (
        firstb.join(vetoed, ["user_id", "aid"], "left_anti")
        .select((F.col("tb") - F.col("ta")).alias("gap_s"))
        .groupBy("gap_s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the distinct-gap grain is BOUNDED by the CEP window (gap_s <=
    # SEQ_WINDOW_S) and fans out to the prefix ladder + both totals;
    # truncate so the two range joins + anti-join (the whole CEP
    # matcher) execute once, not once per consumer (r12; the plan
    # showed 40 events scans)
    gaps = truncate_lineage(gaps)
    g = gaps.withColumn("bkt", F.expr("gap_s div 86400"))
    w = (
        Window.partitionBy("bkt")
        .orderBy("gap_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g.select(
        "gap_s", "bkt", "cnt", F.sum("cnt").over(w).alias("c_in")
    )
    btot = g.groupBy("bkt").agg(F.sum("cnt").alias("bn"))
    offs = (
        btot.select(F.col("bkt").alias("k"))
        .join(
            F.broadcast(btot.select(F.col("bkt").alias("k2"), "bn")),
            F.col("k2") < F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum("bn").alias("off"))
    )
    cum = within.join(F.broadcast(offs), within.bkt == offs.k, "left").select(
        "gap_s",
        (F.coalesce("off", F.lit(0)) + F.col("c_in")).alias("cum"),
    )
    tot = gaps.agg(F.sum("cnt").alias("n"))
    pcts = cum.join(F.broadcast(tot)).agg(
        F.max(F.col("n")).alias("n_conversions"),
        F.min(
            F.when(100 * F.col("cum") >= 50 * F.col("n"), F.col("gap_s"))
        ).alias("p50_s"),
        F.min(
            F.when(100 * F.col("cum") >= 90 * F.col("n"), F.col("gap_s"))
        ).alias("p90_s"),
        F.min(
            F.when(100 * F.col("cum") >= 99 * F.col("n"), F.col("gap_s"))
        ).alias("p99_s"),
    )
    return pcts


def _events_conversion_lag(spark, sf_dir):
    return conversion_lag_pct(t(spark, sf_dir, "events"))


_CONVLAG_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS ts_s
  FROM events
),
a AS (SELECT user_id, event_id AS aid, ts_s AS ta FROM base
      WHERE event_type = '{SEQ_A}'),
b AS (SELECT user_id, ts_s AS tb FROM base WHERE event_type = '{SEQ_B}'),
c AS (SELECT user_id, ts_s AS tc FROM base WHERE event_type = '{SEQ_NOT}'),
firstb AS (
  SELECT a.user_id, a.aid, a.ta, min(b.tb) AS tb
  FROM a JOIN b ON b.user_id = a.user_id
   AND b.tb > a.ta AND b.tb <= a.ta + {SEQ_WINDOW_S}
  GROUP BY 1, 2, 3
),
good AS (
  SELECT f.* FROM firstb f
  WHERE NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = f.user_id AND c.tc > f.ta AND c.tc < f.tb
  )
),
gaps AS (
  SELECT tb - ta AS gap_s, CAST(count(*) AS BIGINT) AS cnt
  FROM good GROUP BY 1
),
cum AS (
  SELECT gap_s, CAST(sum(cnt) OVER (ORDER BY gap_s) AS BIGINT) AS cum
  FROM gaps
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM gaps)
SELECT max(n) AS n_conversions,
       min(CASE WHEN 100 * cum >= 50 * n THEN gap_s END) AS p50_s,
       min(CASE WHEN 100 * cum >= 90 * n THEN gap_s END) AS p90_s,
       min(CASE WHEN 100 * cum >= 99 * n THEN gap_s END) AS p99_s
FROM cum, tot
"""

ATTR_LOOKBACK_S = 7 * 86400

ATTR_BUCKET_S = 86400


def attribution_position(events):
    """U-shaped (position-based) multi-touch attribution: every
    purchase distributes 1000 milli-credits over the view/click touches
    of the preceding 7 days — 40% first touch, 40% last, 20% split
    across the middles (100% / 50-50 for 1- and 2-touch paths; integer
    division drops the sub-milli remainder deterministically). The
    standard marketing-mix complement to last-touch and Markov
    attribution.

    Scale shape: the conversion-window touch match is the bucketed
    interval equi-join; first/last election is ONE max/min(struct) per
    conversion (never a window over touches); credit assignment joins
    that 2-struct summary back and the rollup is channel-grain."""
    from .ops.relational import range_join_bucketed

    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
    )
    conv = base.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("cid"),
        (F.col("ts_s") - ATTR_LOOKBACK_S).alias("s0"),
        F.col("ts_s").alias("s1"),
    )
    touch = base.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
        F.col("ts_s").alias("es"),
    )
    matched = range_join_bucketed(conv, touch, "user_id", ATTR_BUCKET_S)
    summ = matched.groupBy("cid").agg(
        F.count(F.lit(1)).alias("k"),
        F.min(F.struct("es", "tid")).alias("first_k"),
        F.max(F.struct("es", "tid")).alias("last_k"),
    )
    credited = matched.join(F.broadcast(summ), "cid").select(
        "channel",
        F.when(F.col("k") == 1, 1000)
        .when(
            (F.col("es") == F.col("first_k.es"))
            & (F.col("tid") == F.col("first_k.tid")),
            F.when(F.col("k") == 2, 500).otherwise(400),
        )
        .when(
            (F.col("es") == F.col("last_k.es"))
            & (F.col("tid") == F.col("last_k.tid")),
            F.when(F.col("k") == 2, 500).otherwise(400),
        )
        .otherwise(F.expr("200 div (k - 2)"))
        .alias("credit_milli"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_milli").alias("credit_milli"),
        )
        .orderBy("channel")
    )


def _events_attribution_position(spark, sf_dir):
    return attribution_position(t(spark, sf_dir, "events"))


_ATTRPOS_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS ts_s
  FROM events
),
conv AS (
  SELECT user_id, event_id AS cid, ts_s - {ATTR_LOOKBACK_S} AS s0,
         ts_s AS s1
  FROM base WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_id AS tid, event_type AS channel, ts_s AS es
  FROM base WHERE event_type IN ('view', 'click')
),
matched AS (
  SELECT c.cid, t.tid, t.channel, t.es
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id AND t.es >= c.s0 AND t.es < c.s1
),
summ AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS k,
         min(struct_pack(es := es, tid := tid)) AS first_k,
         max(struct_pack(es := es, tid := tid)) AS last_k
  FROM matched GROUP BY cid
),
credited AS (
  SELECT m.channel,
         CASE WHEN k = 1 THEN 1000
              WHEN m.es = first_k['es'] AND m.tid = first_k['tid']
                   THEN CASE WHEN k = 2 THEN 500 ELSE 400 END
              WHEN m.es = last_k['es'] AND m.tid = last_k['tid']
                   THEN CASE WHEN k = 2 THEN 500 ELSE 400 END
              ELSE 200 // (k - 2) END AS credit_milli
  FROM matched m JOIN summ USING (cid)
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit_milli) AS BIGINT) AS credit_milli
FROM credited GROUP BY channel ORDER BY channel
"""

BOT_RATE_MILLI = 2000   # > 2 events per active hour

BOT_NIGHT_MICRO = 400000  # > 40% of activity in hours 0-5

BOT_DUP_TS = 1          # any same-second double-fire


def bot_score(events):
    """Rule-based bot/abuse screen at the user grain: activity rate per
    active hour, same-second double-fires, and night-hour share each
    trip an integer rule flag; the score is their weighted sum and the
    output is the flagged-user audit — the traffic-quality gate run
    before any engagement metric is trusted.

    All features and flags are exact integers (milli rates, micro
    shares) from two user-grain aggregates; the active-hour count
    reuses the (user, hour) grain, and nothing exceeds the user
    domain."""
    base = events.select(
        "user_id",
        F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
        F.expr("unix_micros(ts) div 1000000").alias("ts_s"),
        F.expr("hour(ts)").alias("hod"),
    )
    per_hour = base.groupBy("user_id", "hidx").agg(
        F.count(F.lit(1)).alias("nh")
    )
    hours = per_hour.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_active_hours"),
        F.sum("nh").alias("n_events"),
    )
    dup = (
        base.groupBy("user_id", "ts_s")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0)).alias(
                "n_dup_ts"
            )
        )
    )
    night = base.groupBy("user_id").agg(
        F.sum(F.when(F.col("hod") <= 5, 1).otherwise(0)).alias("n_night")
    )
    feats = (
        hours.join(dup, "user_id")
        .join(night, "user_id")
        .select(
            "user_id",
            "n_events",
            "n_active_hours",
            F.expr("(1000 * n_events) div n_active_hours").alias("rate_milli"),
            "n_dup_ts",
            F.expr("(1000000 * n_night) div n_events").alias("night_micro"),
        )
    )
    scored = feats.select(
        "*",
        (
            F.when(F.col("rate_milli") > BOT_RATE_MILLI, 2).otherwise(0)
            + F.when(F.col("n_dup_ts") >= BOT_DUP_TS, 3).otherwise(0)
            + F.when(F.col("night_micro") > BOT_NIGHT_MICRO, 1).otherwise(0)
        ).cast("long").alias("bot_score"),
    )
    return scored.where(F.col("bot_score") > 0).orderBy("user_id")


def _events_bot_score(spark, sf_dir):
    return bot_score(t(spark, sf_dir, "events"))


_BOT_SQL = f"""
WITH base AS (
  SELECT user_id,
         epoch_us(ts) // 3600000000 AS hidx,
         epoch_us(ts) // 1000000 AS ts_s,
         hour(ts) AS hod
  FROM events
),
per_hour AS (
  SELECT user_id, hidx, CAST(count(*) AS BIGINT) AS nh
  FROM base GROUP BY 1, 2
),
hours AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_active_hours,
         CAST(sum(nh) AS BIGINT) AS n_events
  FROM per_hour GROUP BY 1
),
dup AS (
  SELECT user_id,
         CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
             AS n_dup_ts
  FROM (SELECT user_id, ts_s, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2)
  GROUP BY 1
),
night AS (
  SELECT user_id,
         CAST(sum(CASE WHEN hod <= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_night
  FROM base GROUP BY 1
),
feats AS (
  SELECT hours.user_id, n_events, n_active_hours,
         (1000 * n_events) // n_active_hours AS rate_milli,
         n_dup_ts,
         (1000000 * n_night) // n_events AS night_micro
  FROM hours JOIN dup ON hours.user_id = dup.user_id
             JOIN night ON hours.user_id = night.user_id
)
SELECT *,
       CAST(CASE WHEN rate_milli > {BOT_RATE_MILLI} THEN 2 ELSE 0 END
            + CASE WHEN n_dup_ts >= {BOT_DUP_TS} THEN 3 ELSE 0 END
            + CASE WHEN night_micro > {BOT_NIGHT_MICRO} THEN 1 ELSE 0 END
            AS BIGINT) AS bot_score
FROM feats
WHERE CASE WHEN rate_milli > {BOT_RATE_MILLI} THEN 2 ELSE 0 END
      + CASE WHEN n_dup_ts >= {BOT_DUP_TS} THEN 3 ELSE 0 END
      + CASE WHEN night_micro > {BOT_NIGHT_MICRO} THEN 1 ELSE 0 END > 0
ORDER BY user_id
"""

PIT_TRAIL_S = 30 * 86400

PIT_BUCKET_S = 7 * 86400


def pit_feature_join(events, orders):
    """Point-in-time-correct feature assembly (the feature-store
    training-set join): for every event of a known customer, attach (a)
    the customer's LAST order total as of the event time — a backward
    as-of join, no leakage from the future — and (b) the trailing
    30-day order count — a bucketed range join. Rolled up to the
    customer grain for the audit.

    Scale shape: the as-of feature is the repo's single-shuffle
    union-merge as-of (zero candidate pairs); the trailing count is the
    bucketed interval equi-join; both verified operators composed, plus
    one key-grain rollup."""
    from .ops.relational import asof_join, range_join_bucketed

    spine = events.select(
        F.col("user_id").alias("custkey"),
        F.col("event_id").alias("eid"),
        F.expr("unix_micros(ts) div 1000000").alias("ets"),
    )
    feat = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("oid"),
        F.expr("unix_micros(o_orderdate) div 1000000").alias("ots"),
        cents(F.col("o_totalprice")).alias("last_total_cents"),
    )
    pit = asof_join(
        spine, feat, key="custkey", left_ts="ets", right_ts="ots",
        left_id="eid", right_id="oid",
    )
    iv = spine.select(
        "custkey",
        "eid",
        (F.col("ets") - PIT_TRAIL_S).alias("s0"),
        F.col("ets").alias("s1"),
    )
    pts = feat.select("custkey", F.col("ots").alias("es"))
    trail = (
        range_join_bucketed(iv, pts, "custkey", PIT_BUCKET_S)
        .groupBy("eid")
        .agg(F.count(F.lit(1)).alias("n_trail"))
    )
    assembled = pit.join(trail, "eid", "left").select(
        "custkey",
        "eid",
        "last_total_cents",
        F.coalesce("n_trail", F.lit(0)).alias("n_trailing_30d"),
    )
    return (
        assembled.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.col("last_total_cents")).alias("n_with_feature"),
            F.sum("last_total_cents").alias("sum_feature_cents"),
            F.sum("n_trailing_30d").alias("sum_trailing_orders"),
        )
        .orderBy("custkey")
    )


def _feature_pit_join(spark, sf_dir):
    return pit_feature_join(
        t(spark, sf_dir, "events"), t(spark, sf_dir, "orders")
    )


_PIT_SQL = f"""
WITH spine AS (
  SELECT user_id AS custkey, event_id AS eid,
         epoch_us(ts) // 1000000 AS ets
  FROM events
),
feat AS (
  SELECT o_custkey AS custkey, o_orderkey AS oid,
         epoch_us(o_orderdate) // 1000000 AS ots,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
  FROM orders
),
pit AS (
  SELECT s.custkey, s.eid,
         (SELECT f.total_cents FROM feat f
          WHERE f.custkey = s.custkey AND f.ots <= s.ets
          ORDER BY f.ots DESC, f.oid DESC LIMIT 1) AS last_total_cents
  FROM spine s
),
trail AS (
  SELECT s.eid, CAST(count(*) AS BIGINT) AS n_trail
  FROM spine s JOIN feat f
    ON f.custkey = s.custkey
   AND f.ots >= s.ets - {PIT_TRAIL_S} AND f.ots < s.ets
  GROUP BY s.eid
)
SELECT pit.custkey, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(last_total_cents) AS BIGINT) AS n_with_feature,
       CAST(sum(last_total_cents) AS BIGINT) AS sum_feature_cents,
       CAST(sum(COALESCE(n_trail, 0)) AS BIGINT) AS sum_trailing_orders
FROM pit LEFT JOIN trail ON pit.eid = trail.eid
GROUP BY pit.custkey ORDER BY pit.custkey
"""

PACF_LAGS = 4


def pacf_levinson(events):
    """Partial autocorrelations phi_kk for lags 1..4 via the
    Durbin-Levinson recursion UNROLLED over the micro-quantized
    calendar-lag autocorrelations of ts_ljung_box — the AR-order
    selection plot, computed without any sequential state: every
    recursion level is a fixed arithmetic DAG on <= 4 scalars, each phi
    micro-quantized before the next level uses it (so both engines
    recurse on identical rationals). Lags with no calendar pair yield
    no row."""
    rk = ljung_box(events, max_lag=PACF_LAGS).select("k", "r_micro")
    wide = rk.groupBy().pivot("k", list(range(1, PACF_LAGS + 1))).agg(
        F.first("r_micro")
    )
    # column names "1".."4" (micro ints); recurse in micro space
    q = "floor(({expr}) * 1000000 + 0.5)"

    def c(name):
        return f"(CAST(`{name}` AS DOUBLE) / 1.0e6)"

    f11 = c("1")
    lvl = wide.selectExpr(
        "*",
        q.format(expr=f11) + " AS f11",
    )
    f22 = (
        f"((({c('2')}) - (f11/1e6) * ({c('1')}))"
        f" / (1.0 - (f11/1e6) * ({c('1')})))"
    )
    lvl = lvl.selectExpr("*", q.format(expr=f22) + " AS f22")
    f21 = "((f11/1e6) - (f22/1e6) * (f11/1e6))"
    lvl = lvl.selectExpr("*", q.format(expr=f21) + " AS f21")
    f33 = (
        f"((({c('3')}) - (f21/1e6) * ({c('2')}) - (f22/1e6) * ({c('1')}))"
        f" / (1.0 - (f21/1e6) * ({c('1')}) - (f22/1e6) * ({c('2')})))"
    )
    lvl = lvl.selectExpr("*", q.format(expr=f33) + " AS f33")
    f31 = "((f21/1e6) - (f33/1e6) * (f22/1e6))"
    f32 = "((f22/1e6) - (f33/1e6) * (f21/1e6))"
    lvl = lvl.selectExpr(
        "*", q.format(expr=f31) + " AS f31", q.format(expr=f32) + " AS f32"
    )
    f44 = (
        f"((({c('4')}) - (f31/1e6) * ({c('3')}) - (f32/1e6) * ({c('2')})"
        f" - (f33/1e6) * ({c('1')}))"
        f" / (1.0 - (f31/1e6) * ({c('1')}) - (f32/1e6) * ({c('2')})"
        f" - (f33/1e6) * ({c('3')})))"
    )
    lvl = lvl.selectExpr("*", q.format(expr=f44) + " AS f44")
    out = lvl.selectExpr(
        "stack(4, 1, CAST(f11 AS BIGINT), 2, CAST(f22 AS BIGINT),"
        " 3, CAST(f33 AS BIGINT), 4, CAST(f44 AS BIGINT))"
        " AS (lag, pacf_micro)"
    )
    return out.select(
        F.col("lag").cast("long").alias("lag"), "pacf_micro"
    ).orderBy("lag")


def _ts_pacf_levinson(spark, sf_dir):
    return pacf_levinson(t(spark, sf_dir, "events"))


def _pacf_sql() -> str:
    # mirror of the unrolled recursion over the ljung_box rk CTEs
    rk_inner = _LB_SQL.replace(
        f"range(1, {LB_MAX_LAG} + 1)", f"range(1, {PACF_LAGS} + 1)"
    )
    # strip the final SELECT of _LB_SQL and rebuild on its rk CTE
    rk_cte = rk_inner[: rk_inner.rindex("SELECT k, m, r_micro")]
    q = "floor(({expr}) * 1000000 + 0.5)"
    r = {
        k: f"((SELECT CAST(r_micro AS DOUBLE) FROM rk WHERE k = {k}) / 1.0e6)"
        for k in range(1, 5)
    }
    f11q = q.format(expr=r[1])
    lines = [f"l1 AS (SELECT CAST({f11q} AS BIGINT) AS f11 FROM q)"]
    f22 = (
        f"(({r[2]} - (f11/1e6) * {r[1]}) / (1.0 - (f11/1e6) * {r[1]}))"
    )
    lines.append(
        f"l2 AS (SELECT f11, CAST({q.format(expr=f22)} AS BIGINT) AS f22"
        f" FROM l1)"
    )
    f21 = "((f11/1e6) - (f22/1e6) * (f11/1e6))"
    lines.append(
        f"l2b AS (SELECT *, CAST({q.format(expr=f21)} AS BIGINT) AS f21"
        f" FROM l2)"
    )
    f33 = (
        f"(({r[3]} - (f21/1e6) * {r[2]} - (f22/1e6) * {r[1]})"
        f" / (1.0 - (f21/1e6) * {r[1]} - (f22/1e6) * {r[2]}))"
    )
    lines.append(
        f"l3 AS (SELECT *, CAST({q.format(expr=f33)} AS BIGINT) AS f33"
        f" FROM l2b)"
    )
    f31 = "((f21/1e6) - (f33/1e6) * (f22/1e6))"
    f32 = "((f22/1e6) - (f33/1e6) * (f21/1e6))"
    lines.append(
        f"l3b AS (SELECT *, CAST({q.format(expr=f31)} AS BIGINT) AS f31,"
        f" CAST({q.format(expr=f32)} AS BIGINT) AS f32 FROM l3)"
    )
    f44 = (
        f"(({r[4]} - (f31/1e6) * {r[3]} - (f32/1e6) * {r[2]}"
        f" - (f33/1e6) * {r[1]})"
        f" / (1.0 - (f31/1e6) * {r[1]} - (f32/1e6) * {r[2]}"
        f" - (f33/1e6) * {r[3]}))"
    )
    lines.append(
        f"l4 AS (SELECT *, CAST({q.format(expr=f44)} AS BIGINT) AS f44"
        f" FROM l3b)"
    )
    return (
        rk_cte.rstrip().rstrip(",")
        + ",\n"
        + ",\n".join(lines)
        + """
SELECT CAST(u.lag AS BIGINT) AS lag,
       CASE u.lag WHEN 1 THEN f11 WHEN 2 THEN f22
                  WHEN 3 THEN f33 ELSE f44 END AS pacf_micro
FROM l4, unnest([1, 2, 3, 4]) AS u(lag)
ORDER BY lag
"""
    )


def _bucket_prefix(df, arm_col, time_col, val_cols, bucket_width=64):
    """Inclusive per-arm running sums of ``val_cols`` ordered by
    ``time_col``, without a global window: within-bucket window
    (partitioned by (arm, time div bucket_width)) + a broadcast
    bucket-offset join — the reflected coarse-bucket prefix pattern of
    ``stat_logrank_test`` (registry_stats), reused here for the
    exact order-statistic quantiles. Shuffle grain is the bounded
    (arm x value) aggregate, never fact rows."""
    gb = df.withColumn("bkt", F.expr(f"{time_col} div {bucket_width}"))
    w = (
        Window.partitionBy(arm_col, "bkt")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = gb.select(
        "*", *[F.sum(c).over(w).alias(f"_in_{c}") for c in val_cols]
    )
    btot = gb.groupBy(arm_col, "bkt").agg(
        *[F.sum(c).alias(f"_b_{c}") for c in val_cols]
    )
    offs = (
        btot.select(F.col(arm_col).alias("_a"), F.col("bkt").alias("k"))
        .join(
            F.broadcast(
                btot.select(
                    F.col(arm_col).alias("_a2"),
                    F.col("bkt").alias("k2"),
                    *[f"_b_{c}" for c in val_cols],
                )
            ),
            (F.col("_a2") == F.col("_a")) & (F.col("k2") < F.col("k")),
        )
        .groupBy("_a", "k")
        .agg(*[F.sum(f"_b_{c}").alias(f"_o_{c}") for c in val_cols])
    )
    out = within.join(
        F.broadcast(offs),
        (within[arm_col] == offs["_a"]) & (within["bkt"] == offs["k"]),
        "left",
    )
    for c in val_cols:
        out = out.withColumn(
            f"cum_{c}", F.coalesce(f"_o_{c}", F.lit(0)) + F.col(f"_in_{c}")
        )
    return out.drop(
        "_a", "k", "bkt", *[f"_in_{c}" for c in val_cols],
        *[f"_o_{c}" for c in val_cols],
    )


# --------------------------------- QUANTILE TREATMENT EFFECT (EXACT)


QTE_PCTS = (25, 50, 75, 90)

QTE_BUCKET = 512  # cents-grain prefix bucket width


def quantile_treatment_effect(events, pcts: tuple[int, ...] = QTE_PCTS):
    """Quantile treatment effects between the hash arms: the exact
    inverse-ECDF order statistics (type-1: smallest c with
    100·cum(c) ≥ p·n) of purchase value at the cents grain, per arm,
    and their differences. Mean tests miss interventions that move the
    TAILS; QTE is the standard readout for them.

    Exactness: pure int64 end-to-end — cents counts, reflected
    coarse-bucket prefix sums (the zero-global-window pattern shared
    with stat_logrank_test), and an integer threshold comparison; the
    percentile grid is a 4-row broadcast.

    Scale shape: one fact scan to the bounded (arm × cents) grain;
    everything after is at that grain. The only cross-grain joins are
    broadcasts (bucket offsets, arm totals, the percentile grid)."""
    c = events.where(F.col("event_type") == "purchase").select(
        (
            token_hash(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))) % 2
        ).alias("arm"),
        cents(F.col("value")).alias("c"),
    )
    # persist the bounded (arm x cents) grain: three consumers derive
    # from it (at-risk prefix, bucket offsets, arm totals) and without
    # the cache each one re-scans + re-shuffles the FACT table — the
    # executed plan showed 3 parquet passes. With it, 100 TB pays one
    # scan and one partial-agg shuffle; the cached table is value-
    # domain-sized (metadata-scale), never row-scale.
    g = c.groupBy("arm", "c").agg(F.count(F.lit(1)).alias("d")).persist()
    tot = g.groupBy("arm").agg(F.sum("d").alias("n_arm"))
    cum = _bucket_prefix(g, "arm", "c", ["d"], bucket_width=QTE_BUCKET)
    pgrid = F.broadcast(
        events.sparkSession.createDataFrame([(p,) for p in pcts], "p int")
    )
    hit = (
        cum.join(F.broadcast(tot), "arm")
        .crossJoin(pgrid)
        .where(F.lit(100) * F.col("cum_d") >= F.col("p") * F.col("n_arm"))
        .groupBy("p", "arm")
        .agg(F.min("c").alias("q"))
    )
    wide = hit.groupBy("p").agg(
        F.min(F.when(F.col("arm") == 0, F.col("q"))).alias("q_arm0_cents"),
        F.min(F.when(F.col("arm") == 1, F.col("q"))).alias("q_arm1_cents"),
    )
    return wide.select(
        "p",
        "q_arm0_cents",
        "q_arm1_cents",
        (F.col("q_arm1_cents") - F.col("q_arm0_cents")).alias("qte_cents"),
    )


def _events_qte(spark, sf_dir):
    return quantile_treatment_effect(t(spark, sf_dir, "events"))


_QTE_SQL = f"""
WITH c AS (
  SELECT ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2 AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
g AS (SELECT arm, c, CAST(count(*) AS BIGINT) AS d FROM c GROUP BY arm, c),
cum AS (
  SELECT arm, c,
         CAST(sum(d) OVER (PARTITION BY arm ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_d,
         CAST(sum(d) OVER (PARTITION BY arm) AS BIGINT) AS n_arm
  FROM g
),
pgrid AS (SELECT unnest({list(QTE_PCTS)}) AS p),
hit AS (
  SELECT p, arm, min(c) AS q
  FROM cum, pgrid
  WHERE 100 * cum_d >= p * n_arm
  GROUP BY p, arm
)
SELECT p,
       min(CASE WHEN arm = 0 THEN q END) AS q_arm0_cents,
       min(CASE WHEN arm = 1 THEN q END) AS q_arm1_cents,
       min(CASE WHEN arm = 1 THEN q END) - min(CASE WHEN arm = 0 THEN q END)
           AS qte_cents
FROM hit GROUP BY p ORDER BY p
"""


EVENTS_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef(
            "ts_concat_parse",
            _ts_concat_parse,
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_rebuilt FROM events",
        ),
        QueryDef("events_anomaly_zscore", _events_anomaly_zscore, _ANOMALY_SQL),
        QueryDef("events_funnel", _events_funnel, _FUNNEL_SQL),
        QueryDef("ts_resample_ffill", _ts_resample_ffill, _RESAMPLE_SQL),
        QueryDef("ts_rolling_hour_avg", _ts_rolling_hour_avg, _ROLLING_SQL),
        QueryDef("events_retention_cohort", _events_retention_cohort, _RETENTION_SQL),
        QueryDef("feature_quantile_bin", _feature_quantile_bin, _QUANTILE_BIN_SQL),
        QueryDef("events_key_skew", _events_key_skew, _KEY_SKEW_SQL),
        QueryDef("events_gap_stats", _events_gap_stats, _GAP_STATS_SQL),
        QueryDef(
            "events_transition_matrix",
            _events_transition_matrix,
            _TRANSITION_SQL,
        ),
        QueryDef("events_hour_heatmap", _events_hour_heatmap, _HOUR_HEATMAP_SQL),
        QueryDef("ts_downsample_maxarea", _ts_downsample_maxarea, _DOWNSAMPLE_SQL),
        QueryDef("events_sessionize", _events_sessionize, _SESSIONIZE_SQL),
        QueryDef("ts_ewma", _ts_ewma, _ewma_sql()),
        QueryDef("events_rfm_segment", _events_rfm_segment, _RFM_SQL),
        QueryDef("events_streak_islands", _events_streak_islands, _STREAK_SQL),
        QueryDef("events_cusum_alerts", _events_cusum_alerts, _CUSUM_SQL),
        QueryDef("events_forecast_backtest", _events_forecast_backtest, _FORECAST_SQL),
        QueryDef("events_ab_test", _events_ab_test, _AB_SQL),
        QueryDef("events_active_users", _events_active_users, _ACTIVE_SQL),
        QueryDef("events_path_topk", _events_path_topk, _PATH_SQL),
        QueryDef("events_anomaly_mad", _events_anomaly_mad, _MAD_SQL),
        QueryDef("ts_interpolate_linear", _ts_interpolate_linear, _INTERP_SQL),
        QueryDef("events_markov_stationary", _events_markov_stationary, _markov_sql()),
        QueryDef("ts_autocorr", _ts_autocorr, _AUTOCORR_SQL),
        QueryDef("events_decay_score", _events_decay_score, _DECAY_SQL),
        QueryDef(
            "events_count_dispersion",
            _events_count_dispersion,
            _COUNT_DISPERSION_SQL,
        ),
        QueryDef("events_peak_concurrency", _events_peak_concurrency, _PEAK_SQL),
        QueryDef("events_user_type_gini", _events_user_type_gini, _GINI_SQL),
        QueryDef(
            "events_attribution_last_touch",
            _events_attribution_last_touch,
            _ATTRIBUTION_SQL,
        ),
        QueryDef(
            "ts_isotonic_fit",
            lambda spark, sf_dir: TS.isotonic_fit(t(spark, sf_dir, "events")),
            # Full hash oracle via the minimax characterization:
            # fitted_i = max_{j<=i} min_{k>=i} mean(c[j..k]). PAVA the
            # KERNEL stays a sequential per-key DP (no SQL expresses
            # the stack), but its RESULT is this closed form, which IS
            # ANSI-SQL: O(n²) (j,k) means per user from prefix sums
            # (n<=99 in the fixtures), suffix-min window over k, max
            # aggregate over j. Both engines divide the same exact
            # int64 (sum, count) pairs, so the doubles are
            # bit-identical and the optimum lands on the same pooled
            # block mean the kernel emits.
            _ISOTONIC_SQL,
        ),
        QueryDef("ts_ohlc_bars", _ts_ohlc_bars, _OHLC_SQL),
        QueryDef(
            "events_cumulative_distinct",
            _events_cumulative_distinct,
            _CUMDIST_SQL,
        ),
        QueryDef("feature_scale_battery", _feature_scale_battery, _SCALE_SQL),
        QueryDef("feature_target_encode", _feature_target_encode, _TE_SQL),
        QueryDef("feature_chi2_select", _feature_chi2_select, _CHI2SEL_SQL),
        QueryDef("feature_onehot_encode", _feature_onehot_encode, _OH_SQL),
        QueryDef("ts_seasonal_decompose", _ts_seasonal_decompose, _SEASONAL_SQL),
        QueryDef("events_did_estimator", _events_did_estimator, _DID_SQL),
        QueryDef("events_survival_km", _events_survival_km, _KM_SQL),
        QueryDef("ts_theil_sen", _ts_theil_sen, _THEIL_SQL),
        QueryDef("ts_changepoint_sse", _ts_changepoint_sse, _CP_SQL),
        QueryDef("events_seq_pattern", _events_seq_pattern, _SEQ_SQL),
        QueryDef("events_cuped_adjust", _events_cuped_adjust, _CUPED_SQL),
        QueryDef("ts_ljung_box", _ts_ljung_box, _LB_SQL),
        QueryDef("events_conversion_lag", _events_conversion_lag, _CONVLAG_SQL),
        QueryDef(
            "events_attribution_position",
            _events_attribution_position,
            _ATTRPOS_SQL,
        ),
        QueryDef("events_bot_score", _events_bot_score, _BOT_SQL),
        QueryDef("feature_pit_join", _feature_pit_join, _PIT_SQL),
        QueryDef("ts_pacf_levinson", _ts_pacf_levinson, _pacf_sql()),
        QueryDef("events_quantile_treatment_effect", _events_qte, _QTE_SQL),
    )
}
