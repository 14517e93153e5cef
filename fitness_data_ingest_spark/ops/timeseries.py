"""Time-series operators: grid resampling with forward fill, and
rolling event-time range windows.

Both are single-shuffle shapes (one window partitioning per user/key)
built from exact integer epoch arithmetic so the DuckDB oracles match
bit-for-bit: grid slots are epoch-aligned (origin-independent), order
keys are epoch microseconds (total order via event_id tie-break), and
rolling averages re-derive from exact int64 cent sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scale import spread

# Resample grid width in seconds (6 h — ~120 slots per user over the
# 30-day fixture span; the operator is width-agnostic).
GRID_S = 21_600


def resample_ffill(events: DataFrame, grid_s: int = GRID_S) -> DataFrame:
    """Resample each user's event series onto an epoch-aligned grid,
    carrying the last observed value forward into each slot (NULL until
    the first observation).

    Shape: per-user min/max bounds (one partial-agg shuffle, tiny
    output) explode to grid rows; grid and observations union and a
    single last-value-ignore-nulls window over (user) fills forward.
    Slots-per-partition is bounded by span/grid, not corpus size; at
    100 TB the same plan runs with the user key salted by coarse time
    range if one user's history exceeds a partition.
    """
    obs = events.select(
        "user_id",
        F.unix_micros("ts").alias("ord_us"),
        F.lit(1).alias("is_obs"),
        F.col("value").alias("v"),
        F.col("event_id").alias("eid"),
        F.lit(None).cast("long").alias("gs"),
    )
    bounds = events.groupBy("user_id").agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / grid_s) * grid_s).alias("g0"),
        (F.floor(F.unix_timestamp(F.max("ts")) / grid_s) * grid_s).alias("g1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("g0", "g1", F.lit(grid_s))).alias("gs"),
    ).select(
        "user_id",
        (F.col("gs") * F.lit(1_000_000)).alias("ord_us"),
        F.lit(0).alias("is_obs"),
        F.lit(None).cast("double").alias("v"),
        F.lit(-1).cast("long").alias("eid"),
        "gs",
    )
    unioned = obs.unionByName(grid)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ord_us"), F.col("is_obs").desc(), F.col("eid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn("value_ffill", F.last("v", ignorenulls=True).over(w))
    return filled.filter(F.col("is_obs") == 0).select(
        "user_id",
        F.date_format(F.timestamp_seconds("gs"), "yyyy-MM-dd HH:mm:ss").alias("slot"),
        "value_ffill",
    )


def interpolate_linear(events: DataFrame, grid_s: int = GRID_S) -> DataFrame:
    """Resample each user's series onto an epoch-aligned grid with
    LINEAR interpolation between the surrounding observations —
    the gap-filling complement to :func:`resample_ffill` (which holds
    the last value flat). Slots before the first or after the last
    observation stay NULL: interpolation never extrapolates.

    Same single-shuffle shape as resample_ffill — per-user bounds
    (tiny partial agg) explode to grid rows, union with observations,
    then TWO frames over the one (user, time) sort: a trailing frame
    carries (prev value, prev epoch-µs) forward, a leading frame
    carries (next value, next epoch-µs) backward. An observation
    landing exactly on a slot sorts BEFORE the slot row (is_obs DESC
    tie-break), so prev == the slot's own sample and the interpolation
    weight is exactly 0 — no 0/0 division case exists.

    value_lin4 = v0 + (v1-v0) · (t-t0)/(t1-t0), floor-rounded to 4
    decimals; every input to the double expression (epoch-µs deltas,
    raw parquet doubles) is bit-identical across engines, so the
    oracle hash cannot flip on arithmetic."""
    obs = events.select(
        "user_id",
        F.unix_micros("ts").alias("ord_us"),
        F.lit(1).alias("is_obs"),
        F.col("value").alias("v"),
        F.col("event_id").alias("eid"),
        F.lit(None).cast("long").alias("gs"),
    )
    bounds = events.groupBy("user_id").agg(
        (F.floor(F.unix_timestamp(F.min("ts")) / grid_s) * grid_s).alias("g0"),
        (F.floor(F.unix_timestamp(F.max("ts")) / grid_s) * grid_s).alias("g1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("g0", "g1", F.lit(grid_s))).alias("gs"),
    ).select(
        "user_id",
        (F.col("gs") * F.lit(1_000_000)).alias("ord_us"),
        F.lit(0).alias("is_obs"),
        F.lit(None).cast("double").alias("v"),
        F.lit(-1).cast("long").alias("eid"),
        "gs",
    )
    unioned = obs.unionByName(grid)
    order = [F.col("ord_us"), F.col("is_obs").desc(), F.col("eid")]
    back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_us = F.when(F.col("is_obs") == 1, F.col("ord_us"))
    staged = (
        unioned.withColumn("v0", F.last("v", ignorenulls=True).over(back))
        .withColumn("t0", F.last(obs_us, ignorenulls=True).over(back))
        .withColumn("v1", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("t1", F.first(obs_us, ignorenulls=True).over(fwd))
    )
    frac = (F.col("ord_us") - F.col("t0")).cast("double") / (
        F.col("t1") - F.col("t0")
    ).cast("double")
    # a slot that coincides with an observation IS that observation —
    # it needs no following sample (matters at the series tail, where
    # the last grid slot can land exactly on the last observation)
    lin = F.when(
        F.col("v0").isNotNull() & (F.col("ord_us") == F.col("t0")), F.col("v0")
    ).when(
        F.col("v0").isNotNull() & F.col("v1").isNotNull(),
        F.col("v0") + (F.col("v1") - F.col("v0")) * frac,
    )
    return staged.filter(F.col("is_obs") == 0).select(
        "user_id",
        F.date_format(F.timestamp_seconds("gs"), "yyyy-MM-dd HH:mm:ss").alias("slot"),
        (F.floor(lin * 10000 + F.lit(0.5)) / 10000.0).alias("value_lin4"),
    )


def rolling_hour_avg(events: DataFrame, span_s: int = 3600) -> DataFrame:
    """Per-event trailing average over the preceding hour of the same
    user's events — an event-time RANGE frame on exact epoch seconds.
    Sums accumulate int64 cents, so the average is bit-deterministic
    under any partitioning; the frame is value-based, so same-second
    events fall in each other's frames identically in every engine.
    """
    staged = events.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("es"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-span_s, Window.currentRow)
    )
    out = staged.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("c").over(w).alias("sc"),
    )
    avg = F.col("sc").cast("double") / F.col("n_1h") / 100.0
    return out.select(
        "event_id",
        "user_id",
        "n_1h",
        (F.floor(avg * 1e4 + F.lit(0.5)) / 1e4).alias("avg_1h4"),
    )


DOWNSAMPLE_BUCKET_S = 21_600


def downsample_maxarea(
    events: DataFrame, bucket_s: int = DOWNSAMPLE_BUCKET_S
) -> DataFrame:
    """Visual time-series decimation (LTTB-family): one representative
    point per (user, bucket) — the point subtending the LARGEST
    triangle against the neighbor buckets' centroids, so the
    downsampled polyline preserves spikes and shape where naive
    first/mean-per-bucket flattens them. (The reference's domain is
    exactly this: second-grain heart-rate series rendered at day scale.)

    Unlike classic LTTB, the neighbor anchors are the adjacent buckets'
    centroids rather than the previously-selected point — that drops
    LTTB's sequential dependency, so the whole pass is three
    shuffle-free-joinable aggregates instead of a per-user sequential
    fold, at (empirically) near-identical point selection.

    All arithmetic is int64: x is epoch-seconds RELATIVE to the
    previous bucket's start (bounds the magnitude so cross products
    stay in range), y is cents, and the triangle cross-product is
    multiplied through by n0²·n2 to clear the centroid divisions —
    the scaling is constant within a bucket, so the argmax is
    unchanged and the value hash is engine-exact. Buckets missing a
    neighbor (each user's first/last) emit nothing by definition.

    Shape: one groupBy to bucket grain, two equi-joins of the point set
    against the (tiny, bucket-grain) aggregate table, one min-struct
    argmax groupBy — no windows, no sequential state.
    """
    B = bucket_s
    pts = events.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
        F.expr(f"(unix_micros(ts) div 1000000) div {B}").alias("b"),
    )
    agg = pts.groupBy("user_id", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("es") - F.col("b") * B).alias("sx"),
        F.sum("yc").alias("sy"),
    )
    p, a0, a2 = pts.alias("p"), agg.alias("a0"), agg.alias("a2")
    j = p.join(
        a0,
        (F.col("p.user_id") == F.col("a0.user_id"))
        & (F.col("a0.b") == F.col("p.b") - 1),
    ).join(
        a2,
        (F.col("p.user_id") == F.col("a2.user_id"))
        & (F.col("a2.b") == F.col("p.b") + 1),
    )
    cr = (
        (
            (F.col("p.es") - (F.col("p.b") - 1) * B) * F.col("a0.n")
            - (F.col("a0.sx") + F.col("a0.n") * B)
        )
        * (F.col("a2.sy") * F.col("a0.n") - F.col("a0.sy") * F.col("a2.n"))
        - (
            (F.col("a2.sx") + F.col("a2.n") * 3 * B) * F.col("a0.n")
            - (F.col("a0.sx") + F.col("a0.n") * B) * F.col("a2.n")
        )
        * (F.col("p.yc") * F.col("a0.n") - F.col("a0.sy"))
    )
    cand = j.select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.b").alias("b"),
        F.col("p.event_id").alias("event_id"),
        F.abs(cr).alias("area"),
    )
    picked = cand.groupBy("user_id", "b").agg(
        F.min(F.struct((-F.col("area")).alias("na"), F.col("event_id"))).alias("top")
    )
    return picked.select(
        "user_id",
        "b",
        F.col("top.event_id").alias("rep_id"),
        (-F.col("top.na")).cast("long").alias("area_scaled"),
    )


SESSION_GAP_S = 1_800


def sessionize(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """Batch sessionization: assign each event a per-user session id
    (a new session starts when the gap to the previous event exceeds
    ``gap_s``), then aggregate per-session stats.

    The batch twin of the streaming span-merge sessionizer
    (stream/stateful.py): one shuffle on user_id, a lag + running-sum
    window per user, one groupBy. All arithmetic is int64 epoch
    seconds with (es, event_id) total order, so session boundaries are
    engine-exact. At 100 TB a whale user's history exceeding one
    partition is handled the same way the streaming twin documents:
    salt the user key by coarse time range and merge the (rare)
    boundary-crossing sessions in a second tiny pass over per-range
    head/tail spans.

    Output: user_id, sess_id (0-based per user), n_events, dur_s,
    sum_cents.
    """
    staged = events.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    brk = (
        F.when(
            F.lag("es").over(w).isNull()
            | (F.col("es") - F.lag("es").over(w) > gap_s),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    run = Window.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = staged.select("user_id", "event_id", "es", "c", brk).withColumn(
        "sess_id", (F.sum("brk").over(run) - 1).cast("long")
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("es") - F.min("es")).alias("dur_s"),
        F.sum("c").alias("sum_cents"),
    )


# Truncated-EWMA weights: alpha * (1-alpha)^k scaled to 2^20 integer
# units, k = 0..15. With alpha = 1/4 the dropped tail mass is
# 0.75^16 ≈ 1%. Integer weights make the weighted sum exact int64 in
# both engines — no float pow() divergence can flip the value hash.
EWMA_DEPTH = 16
EWMA_WEIGHTS = [round((1 / 4) * (3 / 4) ** k * (1 << 20)) for k in range(EWMA_DEPTH)]


def ewma_trunc(events: DataFrame, weights: list[int] | None = None) -> DataFrame:
    """Per-event truncated exponentially-weighted moving average of
    ``value`` over the user's previous ``len(weights)`` events.

    Exact-EWMA is a sequential fold (each state depends on the whole
    prefix) — at scale that is either a per-key applyInPandas pass or
    this truncation: geometric decay means weights beyond depth d
    carry (1-alpha)^d of the mass (~1% at d=16), so the fixed-depth
    form is the shuffle-friendly streaming-safe evaluation: d ``lag``
    reads inside ONE window partitioning (one shuffle on user_id),
    integer-weight arithmetic, renormalized over the terms actually
    present so the series head is unbiased.

    Output: event_id, user_id, n_terms, ewma4.
    """
    ws = list(EWMA_WEIGHTS if weights is None else weights)
    staged = events.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    lags = [F.col("c")] + [F.lag("c", k).over(w) for k in range(1, len(ws))]
    num = sum(
        (F.when(lg.isNotNull(), lg * F.lit(wt)).otherwise(F.lit(0)) for lg, wt in zip(lags, ws)),
        start=F.lit(0).cast("long"),
    )
    den = sum(
        (F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0)) for lg, wt in zip(lags, ws)),
        start=F.lit(0).cast("long"),
    )
    n_terms = sum(
        (F.when(lg.isNotNull(), 1).otherwise(0) for lg in lags),
        start=F.lit(0),
    )
    ew = num.cast("double") / den.cast("double") / 100.0
    return staged.select(
        "event_id",
        "user_id",
        n_terms.cast("long").alias("n_terms"),
        (F.floor(ew * 1e4 + F.lit(0.5)) / 1e4).alias("ewma4"),
    )


def activity_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: per user, consecutive-active-day streaks via
    the classic (day_number - row_number) island key — two per-user
    windows over the DISTINCT (user, day) table (day-grain, ~1/1000th
    of the event volume, so the window partitions stay tiny even for
    whale users). Output per user: active-day count, island count, the
    longest streak's length and its start day (earliest on ties).
    """
    days = events.select(
        "user_id",
        F.expr("(unix_micros(ts) div 1000000) div 86400").alias("dnum"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("dnum")
    isl = days.withColumn(
        "island", F.col("dnum") - F.row_number().over(w)
    )
    islands = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("dnum").alias("start_day"),
    )
    best = F.min(F.struct((-F.col("len")).alias("nl"), F.col("start_day").alias("sd")))
    return islands.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_islands"),
        best.alias("_b"),
    ).select(
        "user_id",
        "n_active_days",
        "n_islands",
        (-F.col("_b.nl")).cast("long").alias("best_len"),
        F.col("_b.sd").alias("best_start"),
    )


CUSUM_H_CENTS = 20_000  # alert threshold: 200.00 in value units


def cusum_alerts(events: DataFrame, h_cents: int = CUSUM_H_CENTS) -> DataFrame:
    """Per-user one-sided CUSUM changepoint detection — the classic
    drift alarm: S_i = max(0, S_{i-1} + (x_i - k)) with k = the user's
    own mean, alert when S crosses ``h_cents``.

    The recurrence LOOKS sequential (each S depends on the previous),
    but has an exact closed form: with P_i = Σ_{j<=i}(x_j - k) the
    prefix sum, S_i = P_i - min(0, min_{j<=i} P_j) — so the whole
    detector is two cumulative windows per user (prefix sum, running
    min), no fold, no state, bit-exact in integer cents under any
    partitioning. k is the floor of the user's mean cents, so k and
    every P are integers.

    Output per user: n_events, n_alerts (events with S > h while the
    previous S <= h — crossings, not high-plateau rows), max_s.
    """
    staged = events.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    mean = staged.groupBy("user_id").agg(
        F.expr("sum(c) div count(*)").alias("k")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = staged.join(mean, "user_id").withColumn(
        "pfx", F.sum(F.col("c") - F.col("k")).over(w)
    )
    s_col = F.col("pfx") - F.least(F.lit(0).cast("long"), F.min("pfx").over(w))
    scored = p.withColumn("s", s_col)
    wlag = Window.partitionBy("user_id").orderBy("es", "event_id")
    prev_s = F.lag("s").over(wlag)
    scored = scored.withColumn(
        "crossing",
        (
            (F.col("s") > h_cents) & (prev_s.isNull() | (prev_s <= h_cents))
        ).cast("long"),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("crossing").alias("n_alerts"),
        F.max("s").alias("max_s"),
    )


def isotonic_fit(events: DataFrame) -> DataFrame:
    """Per-user isotonic regression (pool-adjacent-violators) of the
    value series in time order — the monotone-trend extractor
    (calibration curves, dose-response smoothing, cumulative-metric
    repair). PAVA is an inherently sequential per-key dynamic program
    that no composition of DataFrame operators expresses, so it runs as
    an Arrow-batched Python kernel over user-sorted partitions: one
    shuffle on user_id, a JVM sort within partitions, then ONE
    ``mapInPandas`` pass that walks consecutive user runs. (Before r12
    this was a per-group ``applyInPandas``; the kernel math was ~0.1 s
    over the whole sf0.1 table while the query took ~2.8 s — the cost
    was per-group pandas frame construction + per-group Python sorts,
    ~1500 of each. The partition form pays the Arrow boundary once per
    batch instead of once per user and lets the JVM do the sorting.)

    Exactness: values quantize to integer cents; PAVA pools carry
    (sum_cents, count) and compare block means by CROSS-MULTIPLICATION
    (sum_a · n_b >= sum_b · n_a) on PYTHON ints (no int64 overflow), so
    the merge sequence is integer-exact and platform-independent; the
    fitted level divides once at the end (floor 4-decimals). Each
    user's rows are processed in (ord_us, event_id) order exactly as
    the grouped form did — the JVM sort establishes the same total
    order the per-group pandas sort produced. Hash-paired at the driver
    since r5: the DuckDB oracle expresses PAVA's closed form as the
    O(n²) minimax (fitted_i = max_{j<=i} min_{k>=i} mean v[j..k]) — see
    ``ts_isotonic_fit`` in the registry; tests/test_graph_merge.py pins
    the kernel to an independent Python implementation of the same
    minimax.

    A user's run of rows may span several Arrow batches of a partition:
    the kernel holds the last run of each batch back until the next
    batch shows where it ends. Rows with a NULL ``user_id`` form one
    series of their own, as under ``GROUP BY user_id``.
    """
    import math
    from typing import Iterator

    import pandas as pd

    math_floor = math.floor

    def _run_ids(pdf: pd.DataFrame):
        """One integer per user run, ascending in row order. A NULL
        user_id reads as NaN, which equals nothing, so runs are numbered
        by ``factorize``, which gives NULL a code of its own."""
        return pd.factorize(pdf["user_id"], use_na_sentinel=False)[0]

    def _fit_runs(pdf: pd.DataFrame) -> pd.DataFrame:
        """PAVA over every complete user run in ``pdf`` (rows already
        sorted by user_id, ord_us, event_id)."""
        users = _run_ids(pdf)
        cents = pdf["c"].tolist()  # Python ints: exact cross-multiply
        n = len(cents)
        fitted = [0.0] * n
        i = 0
        while i < n:
            uid = users[i]
            # blocks of (sum_cents, count), merged while out of order
            blocks: list[list[int]] = []
            j = i
            while j < n and users[j] == uid:
                blocks.append([cents[j], 1])
                # pool while previous block mean > current block mean
                while (
                    len(blocks) > 1
                    and blocks[-2][0] * blocks[-1][1]
                    > blocks[-1][0] * blocks[-2][1]
                ):
                    s, m = blocks.pop()
                    blocks[-1][0] += s
                    blocks[-1][1] += m
                j += 1
            k = i
            for s, m in blocks:
                level = math_floor((s / m) / 100.0 * 10000 + 0.5) / 10000.0
                for _ in range(m):
                    fitted[k] = level
                    k += 1
            i = j
        out = pdf[["user_id", "event_id"]].copy()
        out["fitted4"] = fitted
        return out

    def _pava_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if len(pdf) == 0:
                continue
            users = _run_ids(pdf)
            # the LAST user's rows may continue in the next Arrow batch
            # — hold them back (run ids ascend within the batch, so
            # searchsorted finds the run start)
            cut = int(np.searchsorted(users, users[-1], side="left"))
            if cut > 0:
                yield _fit_runs(pdf.iloc[:cut])
            pending = pdf.iloc[cut:]
        if pending is not None and len(pending):
            yield _fit_runs(pending)

    staged = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ord_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    return (
        spread(staged, F.col("user_id"))
        .sortWithinPartitions("user_id", "ord_us", "event_id")
        .mapInPandas(
            _pava_partition,
            schema="user_id long, event_id long, fitted4 double",
        )
    )
