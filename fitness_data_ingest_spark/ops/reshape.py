"""Reshaping operator family (SURVEY.md §2.4 R1-R6): pivot, array split,
schema alignment, nested flatten/explode, normalization, schema cast.

These are the operators behind the reference's JSON→tabular normalization:
heterogeneous, partially-missing JSON in → one fixed, typed, nullable
schema out (SURVEY §1.4).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def pivot_key_value(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    value_col: str,
    keys: Sequence[str],
    agg: str = "sum",
) -> DataFrame:
    """R1 — long key/value rows → one column per key.

    Reference: ``assign(**{x["type"]: x["data"] for x in stream_data})``
    turns each Strava stream type into a column
    (services/strava/utils.py:353-357).

    ``keys`` is passed explicitly: with known pivot values Spark skips
    the extra distinct-collection job — at scale the difference between
    one pass and two.
    """
    agg_expr = getattr(F, agg)(value_col)
    return df.groupBy(*group_cols).pivot(key_col, list(keys)).agg(agg_expr)


def split_array_column(df: DataFrame, array_col: str, names: Sequence[str]) -> DataFrame:
    """R2 — fixed-size array → scalar columns.

    Reference: ``stream_df[["latitude","longitude"]] =
    DataFrame(latlng.tolist())`` (services/strava/utils.py:358-361).
    """
    out = df
    for i, n in enumerate(names):
        out = out.withColumn(n, F.col(array_col).getItem(i))
    return out


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """R3 + R6 — backfill missing columns as typed nulls, cast present
    ones, project in schema order.

    Reference: absent stream types become all-null columns
    (services/strava/utils.py:362-370), then the Arrow schema coerces
    dtypes at write (utils.py:372-374; schema at
    services/strava/globals.py:8-25 — e.g. ``moving`` bool→int64).
    """
    cols = []
    present = {f.name for f in df.schema.fields}
    for field in schema.fields:
        if field.name in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def explode_nested(df: DataFrame, array_col: str, out_col: str = "element") -> DataFrame:
    """R4 — flatten an array-of-struct/scalar column to rows.

    Reference: ``minutes_list = minutes_data[0]["minutes"]`` then
    per-element ``x["value"]["activeZoneMinutes"]`` / ``x["minute"]``
    (services/fitbit/fitbit_utils.py:353-370). Generates rows inside
    whole-stage codegen — no Python loop.
    """
    return df.withColumn(out_col, F.explode(F.col(array_col)))


def normalize_defaults(df: DataFrame, defaults: Mapping[str, object]) -> DataFrame:
    """R5 — supply defaults for missing/null values.

    Reference ``normalize_activity``: ``visibility="everyone"``
    (services/strava/utils.py:202), ``pr_count=0`` (utils.py:225), etc.
    (utils.py:146-233). ``coalesce(col, lit(default))`` per column —
    pure projection, zero shuffle.
    """
    out = df
    for name, default in defaults.items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return out
