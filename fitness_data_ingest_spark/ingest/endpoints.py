"""Named endpoint configs: intraday (per-day) and 30-day-window Fitbit
resources, plus the Spark-side work planner for windowed ingestion.

Reference parity (SURVEY.md §2.6.1):
- resource lists: reference services/fitbit/globals.py:5-15;
- intraday URL shape incl. the heart=1sec detail-level special case:
  fitbit_utils.py:414-424;
- 30-day endpoint shapes per resource (br/hrv/spo2 carry ``/all``,
  sleep rides the 1.2 API, weight sits under body/log):
  fitbit_utils.py:427-456;
- window arithmetic: end = start + 29 days (inclusive 30-day span),
  fitbit_utils.py:444-446.

Fixed reference bug (documented, intentionally NOT reproduced): the
reference builds its endpoint dicts with late-binding lambdas
(``{r: lambda d: endpoint(r, d) for r in RESOURCES}``,
fitbit_utils.py:460-474) — every entry closes over the single loop
variable, so ALL resources resolve to the LAST resource's endpoint.
Here endpoints are pure functions of (resource, date); there is no
closure to mis-bind.

``thirty_day_work_items`` is the planner: it tiles [start, end] into
30-day windows engine-side (one ``sequence()`` expression, no driver
loop) and emits (resource × window) rows ready for the incremental
anti-join — the same pending-work pipeline the per-day planner
(incremental.work_items) feeds.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import with_resources
from .schemas import INTRADAY_RESOURCES

__all__ = [
    "INTRADAY_RESOURCES",
    "THIRTY_DAY_RESOURCES",
    "intraday_endpoint",
    "thirty_day_endpoint",
    "thirty_day_windows",
    "thirty_day_work_items",
]

# reference services/fitbit/globals.py:15
THIRTY_DAY_RESOURCES = ("br", "hrv", "spo2", "temp", "cardioscore", "weight", "sleep")

WINDOW_DAYS = 30


def intraday_endpoint(base_url: str, resource: str, date: dt.date | str) -> str:
    """Per-(resource, day) intraday endpoint; heart streams at 1-second
    granularity, everything else at 1-minute (fitbit_utils.py:414-424)."""
    date_str = date if isinstance(date, str) else date.strftime("%Y-%m-%d")
    detail = "1sec" if resource == "heart" else "1min"
    return (
        f"{base_url}/1/user/-/activities/{resource}/date/"
        f"{date_str}/1d/{detail}/time/00:00/23:59.json"
    )


# per-resource path templates ({base}/{start}/{end} filled in); shapes
# from fitbit_utils.py:448-456
_THIRTY_DAY_PATHS: dict[str, str] = {
    "cardioscore": "/1/user/-/cardioscore/date/{start}/{end}.json",
    "weight": "/1/user/-/body/log/weight/date/{start}/{end}.json",
    "temp": "/1/user/-/temp/skin/date/{start}/{end}.json",
    "sleep": "/1.2/user/-/sleep/date/{start}/{end}.json",
    "br": "/1/user/-/br/date/{start}/{end}/all.json",
    "hrv": "/1/user/-/hrv/date/{start}/{end}/all.json",
    "spo2": "/1/user/-/spo2/date/{start}/{end}/all.json",
}


def thirty_day_endpoint(
    base_url: str, resource: str, start_date: dt.date
) -> tuple[str, dt.date]:
    """(endpoint, window_end) for one 30-day resource window; the window
    is the inclusive [start, start+29] span (fitbit_utils.py:444-446)."""
    if resource not in _THIRTY_DAY_PATHS:
        raise KeyError(
            f"{resource!r} is not a 30-day resource; expected one of "
            f"{sorted(_THIRTY_DAY_PATHS)}"
        )
    end_date = start_date + dt.timedelta(days=WINDOW_DAYS - 1)
    path = _THIRTY_DAY_PATHS[resource].format(
        start=start_date.strftime("%Y-%m-%d"), end=end_date.strftime("%Y-%m-%d")
    )
    return f"{base_url}{path}", end_date


def thirty_day_windows(start: str, end: str) -> list[tuple[str, str]]:
    """Tile [start, end] into inclusive 30-day (window_start, window_end)
    pairs; the final window is clipped to ``end``."""
    s = dt.date.fromisoformat(start)
    e = dt.date.fromisoformat(end)
    out: list[tuple[str, str]] = []
    while s <= e:
        w_end = min(s + dt.timedelta(days=WINDOW_DAYS - 1), e)
        out.append((s.isoformat(), w_end.isoformat()))
        s = s + dt.timedelta(days=WINDOW_DAYS)
    return out


def thirty_day_work_items(
    spark: SparkSession,
    start: str,
    end: str,
    resources: tuple[str, ...] = THIRTY_DAY_RESOURCES,
    prefix: str = "thirty_day",
) -> DataFrame:
    """(resource × 30-day window) work list with sink keys, engine-side.

    The window grid is one ``sequence(start, end, interval 30 days)``
    expression — no driver-side date loop — crossed with the (tiny)
    resource list by ``incremental.with_resources``; the sink key
    mirrors the per-day planner's layout so ``pending_items`` (the
    manifest anti-join) works unchanged.
    """
    starts = spark.range(1, numPartitions=1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr(f"interval {WINDOW_DAYS} days"),
            )
        ).alias("window_start")
    )
    windows = starts.select(
        "window_start",
        F.least(
            F.date_add(F.col("window_start"), WINDOW_DAYS - 1),
            F.lit(end).cast("date"),
        ).alias("window_end"),
    )
    items = with_resources(windows, resources)
    ws = F.date_format("window_start", "yyyy-MM-dd")
    we = F.date_format("window_end", "yyyy-MM-dd")
    return items.select(
        "resource",
        ws.alias("window_start"),
        we.alias("window_end"),
        F.concat_ws(
            "/", F.lit(prefix), F.col("resource"),
            F.concat(F.col("resource"), F.lit("_"), ws, F.lit("_"), we,
                     F.lit(".parquet")),
        ).alias("key"),
    ).orderBy(F.col("window_start").desc(), F.col("resource"))
