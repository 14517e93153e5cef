"""Scalar function family (SURVEY.md §2.5 F1-F13): date/time, string,
math, array helpers — all JVM-side ``pyspark.sql.functions`` (codegen'd,
no Python in the hot path).

Each wrapper returns a Column so they compose inside any select/filter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_from_date_and_time(date_col: Column, time_col: Column) -> Column:
    """F1 — concat "YYYY-MM-DD" + "HH:MM:SS" strings → timestamp.

    Reference: ``pd.to_datetime(f"{date} {time}")``
    (services/fitbit/fitbit_utils.py:382-386).
    """
    return F.to_timestamp(F.concat_ws(" ", date_col, time_col))


def date_str(col: Column) -> Column:
    """F2 — timestamp → "yyyy-MM-dd" string.

    Reference: ``strftime("%Y-%m-%d")`` (fitbit_utils.py:225,387,419).
    """
    return F.date_format(col, "yyyy-MM-dd")


def time_of_day_str(col: Column) -> Column:
    """F13 — timestamp → "HH:mm:ss" time-of-day string.

    Reference: ``pd.to_datetime(x["minute"]).time()`` (fitbit_utils.py:367).
    """
    return F.date_format(col, "HH:mm:ss")


def date_series(start: str, end: str, newest_first: bool = True) -> Column:
    """F3 — inclusive date sequence as an array column (explode to rows).

    Reference: ``pd.date_range(start, end)`` + ``.reverse()`` — the
    driving work-item sequence, newest first
    (fitbit_utils.py:211-212; endpoints fitbit_service.py:23-24).
    """
    seq = F.sequence(
        F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr("interval 1 day")
    )
    return F.reverse(seq) if newest_first else seq


def window_end(date_col: Column, days: int = 29) -> Column:
    """F4 — 30-day window arithmetic. Reference: ``timedelta(days=29)``
    (fitbit_utils.py:445)."""
    return F.date_add(date_col, days)


def epoch_seconds(ts_col: Column) -> Column:
    """F5 — timestamp → epoch seconds. Reference: ``datetime.timestamp()``
    (services/strava/utils.py:58-59)."""
    return F.unix_timestamp(ts_col)


def filename_date(key_col: Column) -> Column:
    """F6 — parse the date embedded in a data-file name.

    Reference: ``Key.split("/")[-1].split("_")[-1].split(".")[0]``
    (get_stream_data.py:56-61). A single regexp instead of a split
    chain — one codegen'd expression.
    """
    return F.to_date(F.regexp_extract(key_col, r"(\d{4}-\d{2}-\d{2})", 1))


def object_key(prefix: str, resource_col: Column, date_col: Column) -> Column:
    """F7 — storage-key construction.

    Reference: f-string path ``intraday/{resource}/{resource}_{date}.parquet``
    (fitbit_utils.py:227-228; also utils.py:325-326,334).
    """
    return F.format_string(
        f"{prefix}/%s/%s_%s.parquet", resource_col, resource_col, date_str(date_col)
    )


def joined_keys(arr_col: Column, sep: str = ",") -> Column:
    """F8 — array → delimited string. Reference: ``",".join(keys)``
    (services/strava/utils.py:334)."""
    return F.array_join(arr_col, sep)


def contains_key(haystack: Column, needle: Column) -> Column:
    """F11 — substring containment. Reference: ``str(activity_id) in x``
    (services/strava/utils.py:412). Prefer exact equality for ingest
    decisions (SURVEY §2.6.4); this exists for parity."""
    return haystack.contains(needle)
