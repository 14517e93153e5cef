"""Relational, reshape, scalar and SQL-surface keys: joins, aggregates,
filters/projections, set ops, top-k, pivots, arrays/strings/dates/
casts/JSON, the flagship pipeline, order and dimension analytics,
range joins, and the Spark 4 SQL surface (``sql_*``: pipe syntax,
VariantType JSON, recursive CTEs, LATERAL subqueries).

Every entry pairs a Spark implementation built from the operator
library (``ops/``) with a DuckDB oracle under the house exactness rules
of ``registry_util``. The SQL-surface keys prove the engine's SQL face
matches its DataFrame face; the recursive reachability is bounded
(depth <= 2) and its path counts are exact integers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ext import corpus as C
from .ext import similarity as S
from .ext.text import token_hash, tokens
from .ops import relational as R
from .ops import reshape as RS
from .ops import scalar as SCL
from .ops.scale import distributed_rank, salted_join, write_bucketed
from .registry_util import (
    OVERLAP_SPAN_S,
    PR_EDGES_CTE,
    QueryDef,
    cents,
    money_avg,
    money_sum,
    round2,
    shared_cooccurrence_edges,
    sql_money_avg,
    sql_money_sum,
    sql_round2,
    t,
)


# ---------------------------------------------------------------- flagship


def _flagship(spark, sf_dir):
    """The reference's commented-out analytical pipeline
    (services/strava/get_stream_data.py:54-90), transplanted to the
    fixtures: scan → date-range filter (P2) → distinct keys (A2) →
    broadcast join facts to keys (J1) → aggregate revenue.
    """
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    recent = R.filter_date_range(orders, "o_orderdate", "1996-01-01", "1998-01-01")
    keys = R.distinct_keys(recent, ["o_orderkey", "o_orderpriority"])
    joined = R.join_facts_to_dim(
        lineitem, keys, on=lineitem.l_orderkey == keys.o_orderkey
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


_FLAGSHIP_SQL = f"""
SELECT o_orderpriority,
       {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_items,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
JOIN (SELECT DISTINCT o_orderkey, o_orderpriority
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01') o
  ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def _agg_approx_sketch(spark, sf_dir):
    """Sketch aggregations — the 100 TB path for distinct counts and
    quantiles: HLL++ (approx_count_distinct, rsd 1%) and GK
    (percentile_approx, accuracy 10k). Mergeable fixed-size state, so
    map-side partials stay tiny no matter the group size — the exact
    versions (countDistinct shuffles every key; exact_quantiles sorts)
    are what these replace when error tolerance allows. No SQL oracle
    (sketch internals are engine-specific); accuracy is pytest-checked
    against exact values (<2% relative error)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _unpivot_melt(spark, sf_dir):
    """Unpivot (melt): wide per-order money columns back to long
    (measure, value) rows — the inverse of pivot_key_value (R1). Spark's
    unpivot/melt == SQL UNPIVOT; at scale this is a narrow map-side
    Expand, no shuffle."""
    orders = t(spark, sf_dir, "orders")
    wide = orders.select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("total_c"),
        # floor-div, not /2-then-cast: Spark casts double->long by
        # truncation, DuckDB by rounding — they disagree on odd cents
        F.floor(cents(F.col("o_totalprice")) / 2).cast("long").alias("half_c"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["total_c", "half_c"],
        variableColumnName="measure",
        valueColumnName="cents_value",
    )


_UNPIVOT_SQL = """
SELECT o_orderkey, measure, cents_value
FROM (SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
             CAST(floor(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) / 2) AS BIGINT)
               AS half_c
      FROM orders)
UNPIVOT (cents_value FOR measure IN (total_c, half_c))
"""


def _agg_rollup(spark, sf_dir):
    """Hierarchical subtotals: ROLLUP(returnflag, linestatus) with a
    grouping_id so subtotal rows are distinguishable from data rows.
    Map-side partial aggregation covers all grouping sets in one pass."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
        money_sum(F.col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_AGG_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       {sql_money_sum('l_extendedprice')} AS sum_price,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _join_asof(spark, sf_dir):
    """Backward as-of join: each purchase event matched to the same
    user's most recent click at-or-before it (the time-series alignment
    latent in the reference's intraday↔activity model, SURVEY §2.3)."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    out = R.asof_join(purchases, clicks, "user_id", "p_ts", "c_ts", "p_id", "c_id")
    return out.select(
        "user_id",
        "p_id",
        "c_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts_s"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("c_ts_s"),
    )


_JOIN_ASOF_SQL = """
WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
      WHERE event_type = 'click'),
j AS (SELECT p.user_id, p.p_id, p.p_ts, c.c_id, c.c_ts,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY c.c_ts DESC NULLS LAST,
                                         c.c_id DESC NULLS LAST) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.c_ts <= p.p_ts)
SELECT user_id, p_id, c_id,
       strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts_s,
       strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS c_ts_s
FROM j WHERE rn = 1
"""


def _agg_percentiles(spark, sf_dir):
    """Exact percentiles per group (distribution profiling — the
    data-quality pass a training pipeline runs per shard). Uses the
    scale-safe sort+rank selection (ops/scale.exact_quantiles) rather
    than built-in ``percentile()``, whose ObjectHashAggregate buffers
    every group's values in executor memory — an OOM with heavy groups
    at 100 TB. Same values as quantile_cont, constant memory per task."""
    from .ops.scale import exact_quantiles

    li = t(spark, sf_dir, "lineitem")
    qres = exact_quantiles(li, "l_returnflag", "l_extendedprice", [0.25, 0.5, 0.9])
    piv = qres.groupBy("l_returnflag").pivot("q", [0.25, 0.5, 0.9]).agg(
        F.first("quantile")
    )
    return piv.select(
        "l_returnflag",
        (F.floor(F.col("`0.25`") * 10000 + 0.5) / 10000.0).alias("p25"),
        (F.floor(F.col("`0.5`") * 10000 + 0.5) / 10000.0).alias("p50"),
        (F.floor(F.col("`0.9`") * 10000 + 0.5) / 10000.0).alias("p90"),
    )


_AGG_PERCENTILES_SQL = """
SELECT l_returnflag,
       floor(quantile_cont(l_extendedprice, 0.25) * 10000 + 0.5) / 10000.0 AS p25,
       floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000.0 AS p50,
       floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000.0 AS p90
FROM lineitem
GROUP BY l_returnflag
"""


def _set_ops(spark, sf_dir):
    """Set operators: customers active in 1995 INTERSECT/EXCEPT 1996.
    Both sides shuffle once on the key; the tag column turns the two
    results into one union'd output the oracle can hash."""
    orders = t(spark, sf_dir, "orders")

    def keys(year):
        # set semantics need distinct inputs: a customer with several
        # 1995 orders must not survive EXCEPT by leftover multiplicity
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    both = keys(1995).intersect(keys(1996)).withColumn("tag", F.lit("both"))
    only95 = keys(1995).subtract(keys(1996)).withColumn("tag", F.lit("only_1995"))
    return both.unionByName(only95)


_SET_OPS_SQL = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
UNION ALL
SELECT o_custkey, 'only_1995' AS tag FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
"""


def _string_functions(spark, sf_dir):
    """String-function battery over one projection: case folding, trim,
    pad, substring, replace, reverse, position — all codegen'd."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.lower("c_mktsegment").alias("lower_seg"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked_name"),
        F.reverse("c_mktsegment").alias("rev_seg"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.length("c_name").alias("name_len"),
    )


_STRING_FUNCS_SQL = """
SELECT c_custkey,
       upper(c_name) AS upper_name,
       lower(c_mktsegment) AS lower_seg,
       trim('  pad  ') AS trimmed,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
       substring(c_name, 1, 8) AS name_prefix,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
       reverse(c_mktsegment) AS rev_seg,
       CASE WHEN position('#' IN c_name) IS NULL THEN 0
            ELSE position('#' IN c_name) END AS hash_pos,
       length(c_name) AS name_len
FROM customer
"""


def _array_functions(spark, sf_dir):
    """Array-function battery over the embedding column: slice, reverse,
    element access, sort, dedup, filter/transform lambdas, aggregation —
    the building blocks every vector/array operator composes from."""
    emb = t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sum4 = F.aggregate(
        F.slice(v, 1, 4), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.floor(F.element_at(v, 1) * 10000 + 0.5) / 10000.0).alias("first4"),
        (F.floor(F.element_at(v, -1) * 10000 + 0.5) / 10000.0).alias("last4"),
        (F.floor(sum4 * 10000 + 0.5) / 10000.0).alias("sum_first4"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        (
            F.floor(F.array_max(v) * 10000 + 0.5) / 10000.0
        ).alias("max4"),
    )


_ARRAY_FUNCS_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings)
SELECT vec_id,
       len(v) AS dim,
       floor(v[1] * 10000 + 0.5) / 10000.0 AS first4,
       floor(v[-1] * 10000 + 0.5) / 10000.0 AS last4,
       floor(list_sum(v[1:4]) * 10000 + 0.5) / 10000.0 AS sum_first4,
       len(list_filter(v, x -> x > 0)) AS n_positive,
       floor(list_max(v) * 10000 + 0.5) / 10000.0 AS max4
FROM e
"""


def _datetime_functions(spark, sf_dir):
    """Date/time-function battery: trunc, extract fields, month math,
    day-of-week — the calendar toolkit behind windowed backfills (F3/F4)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus3mo"),
        F.datediff(F.lit("1999-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_1999"
        ),
    )


_DATETIME_FUNCS_SQL = """
SELECT o_orderkey,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       year(o_orderdate) AS y,
       quarter(o_orderdate) AS qtr,
       dayofweek(o_orderdate) + 1 AS dow,
       dayofyear(o_orderdate) AS doy,
       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo,
       datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_1999
FROM orders
"""


# ------------------------------------------------- projection & filters


def _project_columns(spark, sf_dir):
    """P1 — get_stream_data.py:83; pruning reaches the parquet scan."""
    return R.project(
        t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"],
    )


def _filter_date_range(spark, sf_dir):
    """P2 — get_stream_data.py:68-75."""
    orders = t(spark, sf_dir, "orders")
    return R.filter_date_range(orders, "o_orderdate", "1996-01-01", "1997-01-01").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )


def _filter_pushdown_partition(spark, sf_dir):
    """P3 — source-level predicate pushdown (reference pushes dates into
    the API URL, fitbit_utils.py:421-424). Here the range predicate hits
    parquet row-group min/max stats; verify via explain() PushedFilters."""
    li = t(spark, sf_dir, "lineitem")
    filtered = R.filter_date_range(li, "l_shipdate", "1997-01-01", "1998-01-01")
    return filtered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum(F.col("l_quantity")).alias("sum_qty"),
    )


def _filter_compound(spark, sf_dir):
    """P4 — compound predicate: len(summary_polyline)>0 & year==2024
    (get_activity_data.py:25), transplanted."""
    orders = t(spark, sf_dir, "orders")
    return orders.filter(
        (F.length("o_orderpriority") > 6) & (F.year("o_orderdate") == 1997)
    ).select("o_orderkey", "o_orderpriority")


def _project_conditional(spark, sf_dir):
    """P6 — null-unless-flag (has_heartrate, utils.py:157-159)."""
    cust = t(spark, sf_dir, "customer")
    out = R.conditional_project(
        cust, F.col("c_acctbal") > 0, F.col("c_acctbal"), "pos_acctbal"
    )
    return out.select("c_custkey", "c_mktsegment", "pos_acctbal")


# ----------------------------------------------------------------- joins


def _join_inner_equi(spark, sf_dir):
    """J1 — the commented merge at get_stream_data.py:81-86."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        round2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


def _join_broadcast(spark, sf_dir):
    """J1 (broadcast) — dim side broadcast: fact side never shuffles."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    j = R.join_facts_to_dim(li, part, on=li.l_partkey == part.p_partkey)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum(F.col("l_quantity")).alias("sum_qty"),
        money_avg(F.col("p_retailprice")).alias("avg_retail"),
    )


def _join_left_anti(spark, sf_dir):
    """J2 — incremental-ingest anti-join (fitbit_utils.py:230-232):
    customers with no order since 2000 = work items not in manifest."""
    cust = t(spark, sf_dir, "customer")
    recent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    manifest = recent.select(F.col("o_custkey").alias("c_custkey"))
    return R.incremental_anti_join(cust, manifest, on="c_custkey").select(
        "c_custkey", "c_name"
    )


def _join_left_semi(spark, sf_dir):
    """J3 — existence semi-join (utils.py:412-418)."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = urgent.select(F.col("o_custkey").alias("c_custkey"))
    return R.exists_semi_join(cust, keys, on="c_custkey").select("c_custkey", "c_name")


def _join_range_interval(spark, sf_dir):
    """Range/interval join (latent as-of alignment in the reference's
    data model, SURVEY §2.3): for each error event, the same user's
    events in the following hour. Equi on user_id + range on ts —
    Catalyst plans hash join on user_id with the range as post-filter,
    which is the scalable shape (never a pure cross)."""
    ev = t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"), F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    later = ev.select(
        F.col("user_id"), F.col("event_id").alias("next_id"),
        F.col("event_type").alias("next_type"), F.col("ts").alias("next_ts"),
    )
    j = errors.join(later, "user_id").filter(
        (F.col("next_ts") > F.col("error_ts"))
        & (F.col("next_ts") <= F.col("error_ts") + F.expr("interval 1 hour"))
    )
    return j.select("user_id", "error_id", "next_id", "next_type")


# --------------------------------------------- agg / dedup / union / topk


def _topk_latest(spark, sf_dir):
    """A1 — argmax-latest (np.argmax over file dates,
    get_stream_data.py:56-62) with an explicit total order."""
    ev = t(spark, sf_dir, "events")
    latest = R.latest_snapshot(ev, "ts", "event_id")
    return latest.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
    )


def _union_all(spark, sf_dir):
    """A3 — pd.concat union (utils.py:425)."""
    orders = t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_orderkey").alias("key"), F.lit("y1995").alias("src")
    )
    y96 = orders.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_orderkey").alias("key"), F.lit("y1996").alias("src")
    )
    return R.union_all([y95, y96])


def _agg_min_max(spark, sf_dir):
    """A4 — min/max window bounds (utils.py:56-57)."""
    out = R.min_max(t(spark, sf_dir, "orders"), "o_orderdate", "od")
    return out.select(
        F.date_format("od_min", "yyyy-MM-dd").alias("od_min_day"),
        F.date_format("od_max", "yyyy-MM-dd").alias("od_max_day"),
    )


# ------------------------------------------------------------- reshaping

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pivot_key_value(spark, sf_dir):
    """R1 — stream-type pivot (utils.py:353-357). Explicit pivot values
    skip Spark's extra distinct-collection job."""
    ev = t(spark, sf_dir, "events").withColumn("value_c", cents(F.col("value")))
    piv = RS.pivot_key_value(ev, ["user_id"], "event_type", "value_c", EVENT_TYPES)
    return piv.select(
        "user_id", *[(F.col(c) / 100.0).alias(c) for c in EVENT_TYPES]
    )


def _array_element_extract(spark, sf_dir):
    """R2 — latlng → latitude/longitude split (utils.py:358-361)."""
    emb = t(spark, sf_dir, "embeddings")
    out = RS.split_array_column(emb, "embedding", ["x0", "x1"])
    return out.select(
        "vec_id",
        F.col("x0").cast("double").alias("x0"),
        F.col("x1").cast("double").alias("x1"),
        "label",
    )


def _schema_align_union(spark, sf_dir):
    """R3 — missing-column backfill via name-aligned union
    (utils.py:362-370)."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"), F.col("s_acctbal").alias("acctbal")
    )
    return R.union_all([cust, supp], allow_missing=True)


def _explode_nested(spark, sf_dir):
    """R4 — nested list flatten + per-element extraction
    (fitbit_utils.py:353-370): documents.text → words → counts."""
    docs = t(spark, sf_dir, "documents")
    words = RS.explode_nested(
        docs.select(F.split("text", " ").alias("words")), "words", "word"
    )
    return (
        words.filter(F.col("word") != "").groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    )


def _json_extract(spark, sf_dir):
    """R4 (JSON) — dot-path extraction from a JSON string column
    (the reference digs values out of nested JSON dicts,
    fitbit_utils.py:353-370; props is the fixture analog)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("value")).alias("sum_value"))
    )


def _normalize_defaults(spark, sf_dir):
    """R5 — normalize_activity defaults (utils.py:146-233: e.g.
    visibility='everyone' at :202, pr_count=0 at :225). The fixture has
    no nulls, so nulls are manufactured (nullif / negative-to-null)
    then coalesced — same shape as the reference's missing-key fills."""
    cust = t(spark, sf_dir, "customer")
    sparse = cust.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("segment"),
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias(
            "acctbal"
        ),
    )
    filled = RS.normalize_defaults(sparse, {"segment": "(none)", "acctbal": 0.0})
    return filled.select("c_custkey", "segment", round2(F.col("acctbal")).alias("acctbal"))


def _cast_schema(spark, sf_dir):
    """R6 — cast-to-declared-schema at the sink (STREAM_SCHEMA coercion,
    globals.py:8-25, e.g. moving bool→int64 — here has_discount)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").alias("qty_long"),
        F.col("l_linenumber").cast("double").alias("linenumber_d"),
        (F.col("l_discount") > 0).cast("int").alias("has_discount_int"),
    )


def _date_format_q(spark, sf_dir):
    """F2 — strftime('%Y-%m-%d') (fitbit_utils.py:225,387,419)."""
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", SCL.date_str(F.col("o_orderdate")).alias("d")
    )


def _generate_date_series(spark, sf_dir):
    """F3 — pd.date_range driving sequence (fitbit_utils.py:211-212),
    newest-first by construction; emitted as rows."""
    seq = SCL.date_series("2024-01-01", "2024-03-31", newest_first=True)
    return (
        spark.range(1)
        .select(F.explode(seq).alias("d"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"))
    )


def _date_add_window(spark, sf_dir):
    """F4 — timedelta(days=29) window end (fitbit_utils.py:445)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        SCL.date_str(F.col("o_orderdate")).alias("day"),
        F.date_format(SCL.window_end(F.to_date("o_orderdate"), 29), "yyyy-MM-dd").alias(
            "window_end_day"
        ),
    )


def _epoch_convert(spark, sf_dir):
    """F5 — datetime→epoch seconds (utils.py:58-59)."""
    ev = t(spark, sf_dir, "events")
    return ev.select("event_id", SCL.epoch_seconds(F.col("ts")).alias("epoch_s"))


def _string_split_extract(spark, sf_dir):
    """F6+F7 — build the storage key, then parse the date back out of the
    filename (get_stream_data.py:56-61; key layout fitbit_utils.py:227-228)."""
    ev = t(spark, sf_dir, "events")
    key = SCL.object_key("intraday", F.col("event_type"), F.col("ts"))
    out = ev.select("event_id", key.alias("key"))
    return out.select(
        "event_id",
        "key",
        F.date_format(SCL.filename_date(F.col("key")), "yyyy-MM-dd").alias("file_day"),
    )


def _string_concat_format(spark, sf_dir):
    """F7 — f-string path construction (fitbit_utils.py:227-228)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.format_string(
            "orders/%s/order_%d.parquet", F.col("o_orderstatus"), F.col("o_orderkey")
        ).alias("path"),
    )


def _array_join_q(spark, sf_dir):
    """F8 — ",".join(keys) (utils.py:334), on the sorted word set."""
    docs = t(spark, sf_dir, "documents")
    words = F.array_sort(tokens(F.col("text")))
    return docs.select("doc_id", SCL.joined_keys(words).alias("joined"))


def _math_round(spark, sf_dir):
    """F10 — round(reset_time/60, 2) (fitbit_utils.py:325)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        round2(F.col("l_extendedprice") / 60.0).alias("per_minute"),
    )


def _string_contains(spark, sf_dir):
    """F11 — substring containment (utils.py:412)."""
    docs = t(spark, sf_dir, "documents")
    return docs.filter(SCL.contains_key(F.col("text"), F.lit("merge"))).select(
        "doc_id", "n_chars"
    )


def _scalar_battery(spark, sf_dir):
    """F4+F5+F6+F7+F8+F10+F11 in one scan — the consolidated driver
    verdict for the scalar tail (each op also keeps its own registry
    key for per-op use; those trail the driver window). One row per
    event, every scalar family exercised on real columns."""
    ev = t(spark, sf_dir, "events")
    day = SCL.date_str(F.col("ts"))
    key = SCL.object_key("intraday", F.col("event_type"), F.col("ts"))
    return ev.select(
        "event_id",
        day.alias("day"),
        F.date_format(SCL.window_end(F.to_date("ts"), 29), "yyyy-MM-dd").alias(
            "window_end_day"
        ),
        SCL.epoch_seconds(F.col("ts")).alias("epoch_s"),
        key.alias("key"),
        F.date_format(SCL.filename_date(key), "yyyy-MM-dd").alias("file_day"),
        round2(F.col("value") / 60.0).alias("per_minute"),
        SCL.contains_key(F.col("props"), F.lit('"k"')).alias("has_marker"),
        SCL.joined_keys(F.array(F.col("event_type"), day)).alias("joined"),
    )


def _agg_cube(spark, sf_dir):
    """CUBE over (status, priority) with grouping_id — all four rollup
    combinations in one pass (Expand + single aggregate exchange)."""
    orders = t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("o_totalprice")).alias("total_price"),
        F.grouping_id().alias("gid"),
    )


_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       {sql_money_sum('o_totalprice')} AS total_price,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _join_salted_skew(spark, sf_dir):
    """The skew-salting scale op driven through the correctness gate:
    lineitem x supplier on suppkey salted 8 ways (the hot key fans
    across 8 reducers), then revenue per supplier nation — results
    provably identical to the plain join the oracle runs."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, supp, "l_suppkey", "s_suppkey", salt_n=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
    )


_SALTED_SQL = f"""
SELECT s_nationkey, count(*) AS n_lines,
       {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def _agg_linear_fit(spark, sf_dir):
    """OLS price-vs-quantity per returnflag from exact integer moments
    (decimal(38,0) sums; DuckDB mirrors with int128)."""
    li = t(spark, sf_dir, "lineitem")
    return C.linear_fit(
        li,
        "l_returnflag",
        F.col("l_quantity").cast("long"),
        cents(F.col("l_extendedprice")),
    )


_LINEAR_FIT_SQL = """
WITH m AS (SELECT l_returnflag,
                  CAST(l_quantity AS HUGEINT) AS x,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS y
           FROM lineitem),
a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM m GROUP BY 1)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         floor(((CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) / 100.0) * 1e6 + 0.5) / 1e6
       END AS slope6,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         floor((((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE)) / 100.0) * 1e6 + 0.5) / 1e6
       END AS intercept6,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
         floor((CAST(n * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) * 1e6 + 0.5) / 1e6
       END AS corr6
FROM a
"""


def _agg_mode_argmax(spark, sf_dir):
    """Per-user modal event type via min-struct argmax aggregate (no
    window); the oracle proves equivalence with a rank-window form."""
    return C.mode_per_group(t(spark, sf_dir, "events"), "user_id", "event_type")


_MODE_SQL = """
WITH c AS (SELECT user_id, event_type, count(*) AS cnt
           FROM events GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY cnt DESC, event_type) AS rn
      FROM c)
SELECT user_id, event_type AS mode_event_type, cnt AS n FROM r WHERE rn = 1
"""


def _join_bucketed_colocated(spark, sf_dir):
    """Fact-fact join through same-key bucketed catalog tables: both
    sides land bucketed by the order key (amortized once at write time
    on a real pipeline), so the join itself plans with ZERO Exchange —
    the plan gate for that shape is
    tests/test_scale_ops.py::test_bucketed_join_has_no_exchange; this
    registered query proves the co-located result matches the plain
    join the oracle runs. Projections are pruned before the write so
    the bucket files carry only the join/agg columns."""
    write_bucketed(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "fdis_orders_b",
        "o_orderkey",
        n_buckets=8,
    )
    write_bucketed(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        "fdis_lineitem_b",
        "l_orderkey",
        n_buckets=8,
    )
    j = spark.table("fdis_lineitem_b").join(
        spark.table("fdis_orders_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue"),
    )


_BUCKETED_SQL = f"""
SELECT o_orderstatus, count(*) AS n_lines,
       {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def _agg_string_concat(spark, sf_dir):
    """Per-nation sorted supplier-name roster as one delimited string —
    the listagg/string_agg surface. collect_list is order-nondeterministic
    under parallelism, so the list is array_sort-ed before joining:
    deterministic output for ANY partitioning. Group size is bounded by
    |suppliers per nation|, so the per-group buffer is safe at scale
    (unbounded-group rosters would need the pack-chunks shard pattern)."""
    supp = t(spark, sf_dir, "supplier")
    return supp.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.array_join(
            F.array_sort(F.collect_list("s_name")), ","
        ).alias("roster"),
    )


_STRING_CONCAT_SQL = """
SELECT s_nationkey, count(*) AS n_supp,
       string_agg(s_name, ',' ORDER BY s_name) AS roster
FROM supplier GROUP BY s_nationkey
"""


def _agg_incremental_merge(spark, sf_dir):
    """Incremental aggregate maintenance: last run's materialized
    per-customer state (orders before 1997) merged with the new delta
    partition (1997+) via algebraic state merge (ops/incremental.py) —
    O(|state|+|delta|), never a rescan of history. The oracle
    aggregates the union directly, so the driver hash-checks
    agg(A∪B) == merge(agg(A), agg(B)) end-to-end. Derived measures
    (the 2-decimal average) re-derive from (sum, count) at read time —
    exactly why the state stores sums and counts, not averages."""
    from .ops.incremental import merge_agg_states
    orders = t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")

    def state(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("total_c"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    merged = merge_agg_states(
        state(orders.filter(F.col("o_orderdate") < cut)),
        state(orders.filter(F.col("o_orderdate") >= cut)),
        keys=["o_custkey"],
        measures={
            "n_orders": "count",
            "total_c": "sum",
            "first_order": "min",
            "last_order": "max",
        },
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        (F.col("total_c") / 100.0).alias("total_price"),
        "first_order",
        "last_order",
        (
            round2(F.col("total_c").cast("double") / F.col("n_orders") / 100.0)
        ).alias("avg_price2"),
    )


_INCR_MERGE_SQL = """
SELECT o_custkey,
       count(*) AS n_orders,
       sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
         AS total_price,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order,
       floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / 100.0 * 100 + 0.5) / 100.0 AS avg_price2
FROM orders
GROUP BY o_custkey
"""


def _agg_dispersion(spark, sf_dir):
    """Per-group dispersion profile (n, mean, sample variance, stddev,
    coefficient of variation) from EXACT decimal(38,0) integer moments
    — the built-in var_samp/stddev_samp float-accumulate in partition
    order and drift in the last ulp between runs/engines. Moments are
    map-side combinable (one shuffle of three numbers per group); the
    combination (n·Σy² − (Σy)²) stays exact and casts to double at
    single mirrored points, so Spark and the DuckDB int128 oracle run
    identical IEEE arithmetic."""
    li = t(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    y = cents(F.col("l_extendedprice")).cast(d38)
    agg = (
        li.select(F.col("l_returnflag"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    var_c2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    ) / (nd * (nd - 1))
    mean_d = F.col("sy").cast("double") / nd / 100.0
    var_d = var_c2 / 10000.0
    std_d = F.sqrt(var_c2) / 100.0
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (round2(mean_d)).alias("mean2"),
        (round2(var_d)).alias("var2"),
        (F.floor(std_d * 10000 + 0.5) / 10000.0).alias("std4"),
        (F.floor(std_d / mean_d * 1000000 + 0.5) / 1000000.0).alias("cv6"),
    )


_DISPERSION_SQL = """
WITH m AS (SELECT l_returnflag,
                  CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS HUGEINT) AS y
           FROM lineitem),
a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
             sum(y) AS sy, sum(y * y) AS syy
      FROM m GROUP BY 1)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       floor((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0) * 100 + 0.5)
         / 100.0 AS mean2,
       floor((CAST(n * syy - sy * sy AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) / 10000.0) * 100
             + 0.5) / 100.0 AS var2,
       floor((sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100.0)
             * 10000 + 0.5) / 10000.0 AS std4,
       floor(((sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100.0)
              / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)) * 1000000
             + 0.5) / 1000000.0 AS cv6
FROM a
"""


def _orders_seasonality(spark, sf_dir):
    """Month-grain seasonality with month-over-month delta: exact-cents
    monthly revenue, order counts, and the MoM change — one shuffled
    aggregate at month grain plus a single-column lag over the (tiny,
    |months|-row) aggregate; the lag window partitions by year so no
    partition ever exceeds 12 rows."""
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            cents(F.col("o_totalprice"))
        ).alias("rev_c"),
    )
    w = Window.partitionBy("yr").orderBy("mo")
    prev = F.lag("rev_c", 1).over(w)
    return monthly.select(
        "yr",
        "mo",
        "n_orders",
        (F.col("rev_c") / 100.0).alias("revenue"),
        ((F.col("rev_c") - prev) / 100.0).alias("mom_delta"),
    )


_SEASONALITY_SQL = """
WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
                  CAST(month(o_orderdate) AS INT) AS mo,
                  count(*) AS n_orders,
                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
           FROM orders GROUP BY 1, 2)
SELECT yr, mo, n_orders, rev_c / 100.0 AS revenue,
       (rev_c - lag(rev_c) OVER (PARTITION BY yr ORDER BY mo)) / 100.0
         AS mom_delta
FROM m
"""


def _agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form of ROLLUP/CUBE, both
    already registered): exactly the (status), (priority), and
    grand-total groupings — no lattice blowup, each requested set
    expanded map-side in the same single-shuffle Expand as rollup.
    Null-marker columns disambiguate real NULL keys from subtotal
    rows, mirrored via GROUPING() in the oracle."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            money_sum(F.col("o_totalprice")).alias("sum_total"),
        )
    )


_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       {sql_money_sum('o_totalprice')} AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def _set_ops_all(spark, sf_dir):
    """Bag-semantics set operators (INTERSECT ALL / EXCEPT ALL over
    per-customer order events in 1995 vs 1996): multiplicity is the
    min / truncated difference of per-side counts, which Spark's
    intersectAll/exceptAll compute with one count-aggregate per side —
    no row-level matching shuffle. The tag column folds both results
    into one hashable output (the distinct-semantics sibling is
    ``set_ops``)."""
    orders = t(spark, sf_dir, "orders")

    def keys(year):
        return orders.filter(F.year("o_orderdate") == year).select(
            "o_custkey", "o_orderpriority"
        )

    both = (
        keys(1995).intersectAll(keys(1996)).withColumn("tag", F.lit("both"))
    )
    only95 = (
        keys(1995).exceptAll(keys(1996)).withColumn("tag", F.lit("only_1995"))
    )
    return both.unionByName(only95)


_SET_OPS_ALL_SQL = """
WITH a AS (SELECT o_custkey, o_orderpriority FROM orders
           WHERE year(o_orderdate) = 1995),
b AS (SELECT o_custkey, o_orderpriority FROM orders
      WHERE year(o_orderdate) = 1996)
SELECT o_custkey, o_orderpriority, 'both' AS tag
FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
UNION ALL
SELECT o_custkey, o_orderpriority, 'only_1995' AS tag
FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
"""


# ------------------------------------------------- ARRAY HIGHER-ORDER


def _array_hof_battery(spark, sf_dir):
    """transform/filter/aggregate/array_max over the embedding column,
    all JVM lambda functions, exact int64 micro-unit statistics."""
    return S.array_profile(t(spark, sf_dir, "embeddings"))


_HOF_SQL = """
SELECT vec_id,
  CAST(len(embedding) AS BIGINT) AS n_dims,
  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
  CAST(list_sum(list_transform(embedding,
        x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))) AS BIGINT) AS l1_micro,
  CAST(list_max(list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))) AS BIGINT) AS max_micro
FROM embeddings
"""


# -------------------------------------------------------- RANGE JOIN

_RANGE_IV_S = 1_800

_RANGE_BUCKET_S = 1_800


def _range_join_events(spark, sf_dir):
    """Every purchase opens a 30-min attribution window; count and sum
    the same user's events landing inside it — via the bucketed
    equi-join range join (never a nested-loop join)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
        cents(F.col("value")).alias("c"),
    )
    iv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("iv_id"),
        F.col("es").alias("s0"),
        (F.col("es") + _RANGE_IV_S).alias("s1"),
    )
    pts = ev.select("user_id", "es", "c")
    joined = R.range_join_bucketed(iv, pts, "user_id", _RANGE_BUCKET_S)
    return joined.groupBy("iv_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("c").alias("sum_cents"),
    )


_RANGE_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events),
iv AS (
  SELECT user_id, event_id AS iv_id, es AS s0, es + {_RANGE_IV_S} AS s1
  FROM e WHERE event_type = 'purchase')
SELECT iv.iv_id, iv.user_id, CAST(count(*) AS BIGINT) AS n_in,
       CAST(sum(p.c) AS BIGINT) AS sum_cents
FROM iv JOIN e p
  ON p.user_id = iv.user_id AND p.es >= iv.s0 AND p.es < iv.s1
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- PARETO

_PARETO_BUCKETS = 256


def _orders_pareto(spark, sf_dir):
    """Revenue-concentration deciles (the '20% of customers = 80% of
    revenue' audit): customers ranked by exact cent revenue through
    :func:`distributed_rank` (range-partitioned — no partition-less
    window), bucketed into deciles, per-decile share of total."""
    orders = t(spark, sf_dir, "orders")
    rc = orders.groupBy("o_custkey").agg(
        F.sum(
            cents(F.col("o_totalprice"))
        ).alias("rev_c")
    )
    tot = rc.agg(
        F.count(F.lit(1)).alias("n_cust_tot"),
        F.sum("rev_c").alias("tot_c"),
        F.max("rev_c").alias("max_c"),
        F.min("rev_c").alias("min_c"),
    )
    staged = rc.crossJoin(F.broadcast(tot)).withColumn(
        "bkt",
        F.expr(
            f"(max_c - rev_c) div ((max_c - min_c) div {_PARETO_BUCKETS} + 1)"
        ).cast("int"),
    )
    ranked = distributed_rank(
        staged,
        [("rev_c", "desc"), ("o_custkey", "asc")],
        "bkt",
        n_buckets=_PARETO_BUCKETS,
    )
    dec = ranked.withColumn(
        "decile", F.expr("((rnk - 1) * 10) div n_cust_tot").cast("long")
    )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("rev_c").alias("dec_cents"),
        (
            F.floor(
                F.sum("rev_c").cast("double")
                / F.max("tot_c").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("share4"),
    )


_PARETO_SQL = """
WITH rc AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_cust_tot,
               CAST(sum(rev_c) AS BIGINT) AS tot_c FROM rc),
r AS (
  SELECT o_custkey, rev_c,
         row_number() OVER (ORDER BY rev_c DESC, o_custkey) AS rnk
  FROM rc)
SELECT CAST(((rnk - 1) * 10) // n_cust_tot AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(rev_c) AS BIGINT) AS dec_cents,
       floor(CAST(sum(rev_c) AS DOUBLE) / CAST(max(tot_c) AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS share4
FROM r, tot GROUP BY 1
"""


# --------------------------------------------------------------- COHORT LTV


def _orders_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue (exact cents) by month-age — the money
    companion of the retention cohort."""
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        cents(F.col("o_totalprice")).alias("c"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    j = orders.join(first, "o_custkey").withColumn("age_m", F.col("m") - F.col("m0"))
    per = j.groupBy("m0", "age_m").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("c").alias("cents"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("m0").orderBy("age_m").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return per.select(
        F.col("m0").alias("cohort_m"),
        "age_m",
        "n_active",
        F.sum("cents").over(w).alias("cum_cents"),
    )


_LTV_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS m,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders),
f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
j AS (SELECT o.o_custkey, f.m0, o.m - f.m0 AS age_m, o.c
      FROM o JOIN f ON f.o_custkey = o.o_custkey),
per AS (SELECT m0, age_m, CAST(count(DISTINCT o_custkey) AS BIGINT)
               AS n_active,
               CAST(sum(c) AS BIGINT) AS cents
        FROM j GROUP BY 1, 2)
SELECT m0 AS cohort_m, age_m, n_active,
       CAST(sum(cents) OVER (PARTITION BY m0 ORDER BY age_m
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_cents
FROM per
"""


# ---------------------------------------------------------- ASOF NEAREST


def _join_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of: each purchase matched to the CLOSEST
    click (either direction) of the same user — completing the as-of
    family (backward = join_asof; nearest = two union-merge passes,
    forward realized as backward over negated timestamps)."""
    from .ops.relational import asof_join_nearest

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
    )
    l = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("es").alias("p_es"), F.col("event_id").alias("p_id")
    )
    r = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("es").alias("c_es"), F.col("event_id").alias("c_id")
    )
    return asof_join_nearest(l, r, "user_id", "p_es", "c_es", "p_id", "c_id")


_ASOF_NEAREST_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS es
  FROM events),
l AS (SELECT user_id, es AS p_es, event_id AS p_id
      FROM e WHERE event_type = 'purchase'),
r AS (SELECT user_id, es AS c_es, event_id AS c_id
      FROM e WHERE event_type = 'click'),
j AS (SELECT l.user_id, l.p_es, l.p_id, r.c_id, r.c_es
      FROM l LEFT JOIN r ON r.user_id = l.user_id),
rk AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                    ORDER BY abs(c_es - p_es), c_es,
                                             c_id DESC) AS rn
       FROM j)
SELECT user_id, p_es, p_id, c_id AS nearest_rid, c_es AS nearest_ts,
       abs(c_es - p_es) AS dist
FROM rk WHERE rn = 1
"""


# ----------------------------------------------------------- ASOF FORWARD


def _join_asof_forward(spark, sf_dir):
    """Forward as-of: each purchase matched to the EARLIEST click at or
    after it (same user) — realized as the backward union-merge over
    negated timestamps; completes the backward/forward/nearest as-of
    family."""
    from .ops.relational import asof_join

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("es"),
    )
    l = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (-F.col("es")).alias("p_neg"),
        F.col("event_id").alias("p_id"),
        F.col("es").alias("p_es"),
    )
    r = ev.filter(F.col("event_type") == "click").select(
        "user_id", (-F.col("es")).alias("c_neg"), F.col("event_id").alias("c_id")
    )
    out = asof_join(l, r, "user_id", "p_neg", "c_neg", "p_id", "c_id")
    return out.select(
        "user_id",
        "p_id",
        "p_es",
        F.col("c_id").alias("next_cid"),
        (-F.col("c_neg")).alias("next_es"),
    )


_ASOF_FWD_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) // 1000000 AS es
  FROM events),
l AS (SELECT user_id, es AS p_es, event_id AS p_id
      FROM e WHERE event_type = 'purchase'),
r AS (SELECT user_id, es AS c_es, event_id AS c_id
      FROM e WHERE event_type = 'click'),
j AS (SELECT l.user_id, l.p_id, l.p_es, r.c_id, r.c_es
      FROM l LEFT JOIN r
        ON r.user_id = l.user_id AND r.c_es >= l.p_es),
rk AS (SELECT *, row_number() OVER (PARTITION BY p_id
                                    ORDER BY c_es, c_id DESC) AS rn
       FROM j)
SELECT user_id, p_id, p_es, c_id AS next_cid, c_es AS next_es
FROM rk WHERE rn = 1
"""


# ----------------------------------------------------------- VARIANT


def _json_variant_extract(spark, sf_dir):
    """Spark 4 VariantType path extraction over the events ``props``
    JSON column — parse once, extract ``$.k`` as long, aggregate per
    k-decade. (The pre-variant twin ``json_extract`` uses
    get_json_object; variant parses to a binary-encoded tree, the
    scale path for repeated multi-path extraction.)"""
    ev = t(spark, sf_dir, "events")
    staged = ev.select(
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
        cents(F.col("value")).alias("c"),
    )
    return staged.groupBy((F.col("k") % 10).alias("kmod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sum_cents"),
    )


_VARIANT_SQL = """
WITH e AS (
  SELECT CAST(props->>'$.k' AS BIGINT) AS k,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events)
SELECT k % 10 AS kmod, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM e GROUP BY 1
"""


# --------------------------------------------------------- RECURSIVE

_REACH_SQL_SPARK = """
WITH RECURSIVE reach(node, d) AS (
  SELECT src, 0 FROM edges_tc_v
  WHERE src = (SELECT min(src) FROM edges_tc_v)
  UNION ALL
  SELECT e.dst, r.d + 1
  FROM reach r JOIN edges_tc_v e ON e.src = r.node
  WHERE r.d < 2
)
SELECT node, CAST(min(d) AS BIGINT) AS min_depth,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY 1
"""


def _sql_recursive_reach(spark, sf_dir):
    """Bounded transitive reachability via a RECURSIVE CTE (Spark 4):
    from the smallest node of the thresholded part co-occurrence
    graph, every node within 2 hops with its min depth and <=2-hop
    path count. The iterative-DataFrame twin of this shape is
    pagerank/connected-components; this key proves the SQL recursion
    surface gives the same exact integers DuckDB's recursion does."""
    # materialized shared edge stage: the recursive execution references
    # the view once per depth level (and once for the seed subquery) —
    # a parquet scan per reference instead of re-running the
    # collect_set+HOF edge build ~4x (and shared with the whole graph
    # family, one build per process)
    edges = shared_cooccurrence_edges(spark, sf_dir)
    edges.createOrReplaceTempView("edges_tc_v")
    return spark.sql(_REACH_SQL_SPARK)


def _reach_oracle_sql() -> str:
    return f"""
WITH RECURSIVE edges_tc_v AS ({PR_EDGES_CTE}),
reach(node, d) AS (
  SELECT src, 0 FROM edges_tc_v
  WHERE src = (SELECT min(src) FROM edges_tc_v)
  UNION ALL
  SELECT e.dst, r.d + 1
  FROM reach r JOIN edges_tc_v e ON e.src = r.node
  WHERE r.d < 2
)
SELECT node, CAST(min(d) AS BIGINT) AS min_depth,
       CAST(count(*) AS BIGINT) AS n_paths
FROM reach GROUP BY 1
"""


# ----------------------------------------------------------- LATERAL

_LATERAL_SQL_SPARK = """
SELECT o.o_orderkey, t.l_linenumber, t.price2
FROM (SELECT o_orderkey FROM orders_lat_v WHERE o_orderkey % 100 = 7) o,
LATERAL (SELECT l_linenumber,
                floor(l_extendedprice * 100 + 0.5) / 100.0D AS price2
         FROM lineitem_lat_v l WHERE l.l_orderkey = o.o_orderkey
         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
"""


# NB the 100.0D double literal: Spark SQL parses a bare ``100.0`` as
# DECIMAL(4,1), silently making price2 DECIMAL(27,6) where the
# DataFrame API's ``/ 100.0`` gives DOUBLE — exactly the type drift
# the strict harness exists to catch.


def _sql_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery with ORDER BY ... LIMIT — per-order
    top-2 line items by price over a deterministic order sample. The
    DataFrame twin is a ranked window; this proves Catalyst's
    decorrelation gives the same rows the oracle's native lateral
    gives."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat_v")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_lat_v")
    return spark.sql(_LATERAL_SQL_SPARK)


_LATERAL_ORACLE_SQL = """
SELECT o.o_orderkey, t.l_linenumber, t.price2
FROM (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 7) o,
LATERAL (SELECT l_linenumber,
                floor(l_extendedprice * 100 + 0.5) / 100.0 AS price2
         FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
"""


# ------------------------------------------------------ SQL PIPE SYNTAX


def _sql_pipe_syntax(spark, sf_dir):
    """Spark 4 SQL pipe-operator surface (FROM ... |> WHERE |> EXTEND
    |> AGGREGATE): the q1-shaped pricing summary written as a linear
    pipeline. Catalyst compiles pipes to the exact same logical plan as
    the nested form — one scan, partial-aggregated exchange on the two
    group keys; the oracle is the equivalent ANSI SQL."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe")
    return spark.sql(
        """
FROM li_pipe
|> WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
|> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
     AS disc_cents
|> AGGREGATE count(*) AS n, sum(disc_cents) AS revenue_cents,
       CAST(floor(sum(l_quantity)) AS BIGINT) AS sum_qty
   GROUP BY l_returnflag, l_linestatus
"""
    )


_PIPE_SQL = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(floor(sum(l_quantity)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------- HIGHER MOMENTS


def _agg_higher_moments(spark, sf_dir):
    """Skewness and excess-kurtosis per event type from EXACT integer
    raw moments: values quantize to whole units (d = floor(v + 0.5),
    max fixture value 561 → d⁴ ≤ 1e11, so Σd⁴ stays inside int64 up to
    ~9e6 rows per group; beyond that, swap the four sums to
    DECIMAL(38,0) — the plan shape is unchanged). All four power sums
    ride ONE partial-aggregated exchange; the double arithmetic runs
    only on the per-group scalars afterwards, with the formula written
    identically here and in the oracle so both engines execute the
    same IEEE op sequence."""
    ev = t(spark, sf_dir, "events")
    d = F.floor(F.col("value") + F.lit(0.5)).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.sum(d * d * d).alias("s3"),
        F.sum(d * d * d * d).alias("s4"),
    )
    n = F.col("n").cast("double")
    r1 = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - r1 * r1
    m3 = r3 - 3 * r1 * r2 + 2 * r1 * r1 * r1
    m4 = r4 - 4 * r1 * r3 + 6 * r1 * r1 * r2 - 3 * r1 * r1 * r1 * r1
    skew = m3 / (F.sqrt(m2) * m2)
    kurt = m4 / (m2 * m2) - 3.0
    r4d = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000.0  # noqa: E731
    return g.select(
        "event_type",
        "n",
        r4d(r1).alias("mean4"),
        r4d(m2).alias("var4"),
        r4d(skew).alias("skew4"),
        r4d(kurt).alias("kurt4"),
    )


_MOMENTS_SQL = """
WITH q AS (SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS d
           FROM events),
g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d*d) AS BIGINT) AS s2,
             CAST(sum(d*d*d) AS BIGINT) AS s3,
             CAST(sum(d*d*d*d) AS BIGINT) AS s4
      FROM q GROUP BY event_type),
m AS (SELECT event_type, n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS r1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM g),
c AS (SELECT event_type, n, r1,
             r2 - r1*r1 AS m2,
             r3 - 3*r1*r2 + 2*r1*r1*r1 AS m3,
             r4 - 4*r1*r3 + 6*r1*r1*r2 - 3*r1*r1*r1*r1 AS m4
      FROM m)
SELECT event_type, n,
       floor(r1 * 10000 + 0.5) / 10000.0 AS mean4,
       floor(m2 * 10000 + 0.5) / 10000.0 AS var4,
       floor(m3 / (sqrt(m2) * m2) * 10000 + 0.5) / 10000.0 AS skew4,
       floor((m4 / (m2 * m2) - 3.0) * 10000 + 0.5) / 10000.0 AS kurt4
FROM c
"""


# -------------------------------------------- SCD2 AS-OF DIMENSION JOIN


def _dim_asof_lookup(spark, sf_dir):
    """The temporal-warehouse lookup: join each order to the customer
    DIMENSION VERSION valid at its order date. Dimension versions are
    synthesized deterministically from the customer snapshot (every
    customer has version 1 from the epoch; customers with
    c_custkey % 3 == 0 get a version 2 with +500 balance effective
    1998-07-01), so the query needs no second fixture table.

    Plan shape: versions-per-key is bounded (2 here; rarely more than
    dozens in real SCD2 tables), so the lookup is a plain equi-join on
    the customer key with the validity predicate as a post-join filter
    — fan-out is versions-per-key, never a range blowup; the dimension
    side broadcasts when small. This is the dimension-side complement
    of join_asof (which matches on ORDERED event time without validity
    intervals)."""
    cust = t(spark, sf_dir, "customer")
    cut = "1998-07-01 00:00:00"
    v1 = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        F.lit("1970-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.when(
            F.col("c_custkey") % 3 == 0, F.lit(cut).cast("timestamp")
        )
        .otherwise(F.lit("9999-01-01 00:00:00").cast("timestamp"))
        .alias("valid_to"),
        F.lit(1).alias("version"),
    )
    v2 = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 500.0).alias("bal"),
            F.lit(cut).cast("timestamp").alias("valid_from"),
            F.lit("9999-01-01 00:00:00").cast("timestamp").alias("valid_to"),
            F.lit(2).alias("version"),
        )
    )
    dim = v1.unionByName(v2)
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    j = orders.join(
        F.broadcast(dim), orders.o_custkey == dim.c_custkey
    ).filter(
        (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("o_orderdate") < F.col("valid_to"))
    )
    return j.select(
        "o_orderkey",
        "o_custkey",
        "version",
        round2(F.col("bal")).alias("bal2"),
    )


_DIM_ASOF_SQL = """
WITH dim AS (
  SELECT c_custkey, c_acctbal AS bal,
         TIMESTAMP '1970-01-01 00:00:00' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1998-07-01 00:00:00'
              ELSE TIMESTAMP '9999-01-01 00:00:00' END AS valid_to,
         1 AS version
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 500.0 AS bal,
         TIMESTAMP '1998-07-01 00:00:00' AS valid_from,
         TIMESTAMP '9999-01-01 00:00:00' AS valid_to,
         2 AS version
  FROM customer WHERE c_custkey % 3 = 0)
SELECT o_orderkey, o_custkey, version,
       floor(bal * 100 + 0.5) / 100.0 AS bal2
FROM orders JOIN dim ON o_custkey = c_custkey
WHERE o_orderdate >= valid_from AND o_orderdate < valid_to
"""


# ---------------------------------------------- WEIGHTED MEDIAN


def _agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag — the weighted
    quantile every pricing/inventory report needs (the unweighted
    exact_quantiles path ignores row mass). One keyed sort carries a
    running weight sum; the weighted median is the FIRST value whose
    cumulative weight reaches half the total (lower weighted median),
    found with a min-aggregate over the qualifying rows — the total
    rides alongside via a partition-wide frame on the SAME sort, so
    the operator costs one shuffle. Prices compare as exact cents;
    weights are exact integer quantities."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    staged = li.select(
        "l_returnflag",
        cents(F.col("l_extendedprice")).alias("pc"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("w"),
    )
    wsort = (
        Window.partitionBy("l_returnflag")
        .orderBy("pc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = staged.withColumn("cw", F.sum("w").over(wsort)).withColumn(
        "tw", F.sum("w").over(wall)
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            (F.min("pc").cast("double") / 100.0).alias("w_median"),
            F.max("tw").alias("total_qty"),
        )
    )


_WMEDIAN_SQL = """
WITH s AS (SELECT l_returnflag,
                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
                  CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
           FROM lineitem),
c AS (SELECT l_returnflag, pc, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY pc
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM s)
SELECT l_returnflag,
       CAST(min(pc) AS DOUBLE) / 100.0 AS w_median,
       CAST(max(tw) AS BIGINT) AS total_qty
FROM c WHERE 2 * cw >= tw GROUP BY l_returnflag
"""


# ------------------------------------------ INTERVAL OVERLAP JOIN


def _join_interval_overlap(spark, sf_dir):
    """Interval×interval OVERLAP join — the two-sided generalization of
    the point-in-interval range join (sessions vs incidents, genomics
    ranges): error windows and purchase windows of the same user that
    overlap in time, with the exact overlap in seconds.

    Scale shape: each interval explodes to the coarse time buckets it
    spans (bucket width == max interval length ⇒ ≤2 buckets per
    interval, and two overlapping intervals ALWAYS share a bucket), so
    candidates come from an equi-join on (user, bucket) — never a
    nested-loop range predicate; the overlap check is a post-join
    filter and duplicate candidates (pairs colliding in two buckets)
    collapse with one distinct at pair grain. This is the same
    bucketed-equi discipline as range_join_events, extended to two
    interval sides."""
    ev = t(spark, sf_dir, "events")

    def side(kind: str, id_alias: str, s: str, e: str):
        return ev.filter(F.col("event_type") == kind).select(
            "user_id",
            F.col("event_id").alias(id_alias),
            F.unix_micros("ts").alias(s),
            (F.unix_micros("ts") + OVERLAP_SPAN_S * 1_000_000).alias(e),
        )

    a = side("error", "a_id", "a_s", "a_e")
    b = side("purchase", "b_id", "b_s", "b_e")
    w = OVERLAP_SPAN_S * 1_000_000

    def bucketed(df, s, e):
        return df.withColumn(
            "bkt", F.explode(F.sequence(F.floor(F.col(s) / w), F.floor(F.col(e) / w)))
        )

    cand = (
        bucketed(a, "a_s", "a_e")
        .join(bucketed(b, "b_s", "b_e"), ["user_id", "bkt"])
        .drop("bkt")
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .distinct()
    )
    overlap = F.least(F.col("a_e"), F.col("b_e")) - F.greatest(
        F.col("a_s"), F.col("b_s")
    )
    return cand.select(
        "user_id",
        "a_id",
        "b_id",
        F.floor(overlap / 1_000_000).cast("long").alias("overlap_s"),
    )


_OVERLAP_SQL = f"""
WITH a AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_s,
                  epoch_us(ts) + {OVERLAP_SPAN_S} * 1000000 AS a_e
           FROM events WHERE event_type = 'error'),
b AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_s,
             epoch_us(ts) + {OVERLAP_SPAN_S} * 1000000 AS b_e
      FROM events WHERE event_type = 'purchase')
SELECT a.user_id, a_id, b_id,
       CAST(floor((least(a_e, b_e) - greatest(a_s, b_s)) / 1000000.0)
            AS BIGINT) AS overlap_s
FROM a JOIN b ON a.user_id = b.user_id
WHERE a_s < b_e AND b_s < a_e
"""


# ------------------------------------------- AS-OF WITH TOLERANCE

ASOF_TOL_S = 3600


def _join_asof_tolerance(spark, sf_dir):
    """Backward as-of join with a max-staleness tolerance (pandas
    ``merge_asof(tolerance=...)``): each purchase matches the same
    user's most recent click at-or-before it ONLY if that click is at
    most one hour old — staler matches null out exactly like pandas,
    with the match age in seconds alongside. Completes the as-of
    family (backward / forward / nearest / tolerance).

    Same union-merge single-sort shape as join_asof (ops/relational
    .asof_join — never the O(n²) candidate-pair formulation); the
    tolerance is a post-match projection, so the plan is identical
    plus one filter-free select."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    out = R.asof_join(purchases, clicks, "user_id", "p_ts", "c_ts", "p_id", "c_id")
    age = (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / F.lit(1_000_000)
    within = F.col("c_id").isNotNull() & (age <= ASOF_TOL_S)
    return out.select(
        "user_id",
        "p_id",
        F.when(within, F.col("c_id")).alias("c_id"),
        F.when(within, F.floor(age).cast("long")).alias("age_s"),
    )


_ASOF_TOL_SQL = f"""
WITH p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events
      WHERE event_type = 'click'),
j AS (SELECT p.user_id, p.p_id, p.p_ts, c.c_id, c.c_ts,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY c.c_ts DESC NULLS LAST,
                                         c.c_id DESC NULLS LAST) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.c_ts <= p.p_ts),
m AS (SELECT user_id, p_id, c_id,
             (epoch_us(p_ts) - epoch_us(c_ts)) / 1000000.0 AS age
      FROM j WHERE rn = 1)
SELECT user_id, p_id,
       CASE WHEN c_id IS NOT NULL AND age <= {ASOF_TOL_S} THEN c_id END AS c_id,
       CASE WHEN c_id IS NOT NULL AND age <= {ASOF_TOL_S}
            THEN CAST(floor(age) AS BIGINT) END AS age_s
FROM m
"""


# -------------------------------------------- SPARK-4 SQL SURFACE BIS


def _sql_group_by_all(spark, sf_dir):
    """Spark 4 SQL ergonomics in one oracle-checked pass: GROUP BY ALL
    (grouping keys inferred from the non-aggregate select list) plus a
    PARAMETERIZED query (named ``:cutoff`` marker bound via
    ``spark.sql(..., args=...)`` — injection-safe literals, plan cache
    friendly). Same hash-aggregate plan as the explicit form."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("ord_gba")
    return spark.sql(
        """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM ord_gba
WHERE o_orderdate >= :cutoff
GROUP BY ALL
""",
        args={"cutoff": "1997-01-01 00:00:00"},
    )


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderstatus, o_orderpriority
"""


# Count-min sketch geometry: d=4 independent hash rows x w=64 buckets.
# 256 cells total — the sketch is broadcast-trivial at ANY corpus size
# (cell count is geometry, not cardinality), which is the entire point
# of sketching at 100 TB.
CM_ROWS = 4

CM_WIDTH = 64

CM_TOPK = 20


# ------------------------------------------- COUNT-MIN HEAVY HITTERS


def countmin_heavy(events, topk: int = CM_TOPK):
    """Count-min-sketch heavy-hitter audit over per-user event counts:
    build the d×w sketch, estimate each user's count from it, and report
    the top-``topk`` users by EXACT count with the sketch estimate and
    its overestimate beside them — the error audit a pipeline runs
    before trusting a sketch at production scale. Deterministic md5 row
    hashes make the sketch (and therefore the estimates) engine-exact:
    unlike an approx-distinct sketch, count-min is a pure relational
    computation, so this key gets a full DuckDB hash oracle where
    ``agg_approx_sketch`` by design cannot.

    Scale shape: ONE shuffle reduces events to user grain; the sketch
    is built FROM that reduced table (4 cells per user, weight = the
    user's count) into exactly d·w = 256 cells — geometry-bounded, so
    it broadcasts at any cardinality; estimates are a broadcast
    equi-join of the 4-cell explode against the 256-cell sketch + a
    min() re-aggregate on the user key; top-k is a distributed
    TakeOrderedAndProject. CM guarantee (est >= exact) is asserted in
    the property tests."""
    per_user = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    rb = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(
                    token_hash(
                        F.concat(
                            F.lit(f"cm{r}:"), F.col("user_id").cast("string")
                        )
                    ),
                    F.lit(CM_WIDTH),
                ).alias("b"),
            )
            for r in range(CM_ROWS)
        ]
    )
    cells = (
        per_user.select(F.explode(rb).alias("rb"), "exact_cnt")
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.sum("exact_cnt").alias("cell"))
    )
    est = (
        per_user.select("user_id", "exact_cnt", F.explode(rb).alias("rb"))
        .join(F.broadcast(cells), (F.col("rb.r") == F.col("r")) & (F.col("rb.b") == F.col("b")))
        .groupBy("user_id")
        .agg(
            F.first("exact_cnt").alias("exact_cnt"),
            F.min("cell").alias("est_cnt"),
        )
    )
    return (
        est.select(
            "user_id",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("user_id"))
        .limit(topk)
    )


def _agg_countmin_heavy(spark, sf_dir):
    return countmin_heavy(t(spark, sf_dir, "events"))


_CM_HASHES = " UNION ALL ".join(
    f"SELECT {r} AS r, "
    f"('0x' || substr(md5('cm{r}:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
    f" % {CM_WIDTH} AS b, user_id FROM pu"
    for r in range(CM_ROWS)
)

_CM_SQL = f"""
WITH pu AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
rb AS ({_CM_HASHES}),
cells AS (
  SELECT rb.r, rb.b, CAST(sum(pu.exact_cnt) AS BIGINT) AS cell
  FROM rb JOIN pu USING (user_id) GROUP BY rb.r, rb.b
),
est AS (
  SELECT pu.user_id, pu.exact_cnt,
         CAST(min(c.cell) AS BIGINT) AS est_cnt
  FROM pu JOIN rb USING (user_id)
  JOIN cells c ON c.r = rb.r AND c.b = rb.b
  GROUP BY pu.user_id, pu.exact_cnt
)
SELECT user_id, exact_cnt, est_cnt,
       est_cnt - exact_cnt AS overestimate
FROM est
ORDER BY exact_cnt DESC, user_id ASC
LIMIT {CM_TOPK}
"""


HIST_BINS = 20


def equiwidth_histogram(orders, bins: int = HIST_BINS):
    """Equi-width histogram of o_totalprice (the profiling complement
    of feature_quantile_bin's equi-height bins): bounds ride in as a
    broadcast 1-row aggregate, bin assignment is one integer
    expression, and the histogram is a map-side-combinable groupBy
    onto a constant number of rows.  The max value clamps into the
    last bin (the standard closed-top rule)."""
    c = cents(F.col("o_totalprice"))
    bounds = orders.agg(
        F.min(c).alias("cmin"), F.max(c).alias("cmax")
    )
    j = orders.select(c.alias("c")).join(F.broadcast(bounds))
    bin_ = F.least(
        F.lit(bins - 1),
        F.expr(f"(c - cmin) * {bins} div (cmax - cmin + 1)"),
    ).cast("long")
    h = j.select(bin_.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = h.agg(F.sum("n").alias("tot"))
    return (
        h.join(F.broadcast(tot))
        .select(
            "bin",
            "n",
            (
                F.floor(F.col("n") / F.col("tot").cast("double") * 1000000 + F.lit(0.5))
                / 1000000.0
            ).alias("pct6"),
        )
        .orderBy("bin")
    )


def _agg_equiwidth_histogram(spark, sf_dir):
    return equiwidth_histogram(t(spark, sf_dir, "orders"))


_HIST_SQL = f"""
WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders),
b AS (SELECT min(c) AS cmin, max(c) AS cmax FROM c),
h AS (
  SELECT least({HIST_BINS - 1},
               (c - cmin) * {HIST_BINS} // (cmax - cmin + 1)) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM c, b GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM h)
SELECT bin, n,
       floor(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS pct6
FROM h, tot ORDER BY bin
"""

WINSOR_PCT = 5  # clip at p05 / p95


def winsorized_mean(events, pct: int = WINSOR_PCT):
    """Winsorized and trimmed means of the value stream per event type:
    clip (or drop) beyond the EXACT p05/p95 order statistics — the
    robust location estimates a metrics pipeline publishes beside the
    raw mean so a single whale or glitch cannot move the dashboard.

    Exactness: thresholds are exact lower order statistics from the
    per-group distinct-value cumulative (windows partitioned by group
    at the value-domain grain); clipped sums stay int64 cents and the
    means are the only quantized divisions. One shuffle to the
    (group x distinct-value) grain, everything else grain-local."""
    from pyspark.sql import Window

    gv = (
        events.select(
            F.col("event_type").alias("g"), cents(F.col("value")).alias("v")
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = gv.select("g", "v", "cnt", F.sum("cnt").over(w).alias("cum"))
    ng = gv.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    lo = (
        cum.join(F.broadcast(ng), "g")
        .where(100 * F.col("cum") >= pct * F.col("n_g"))
        .groupBy("g")
        .agg(F.min("v").alias("lo"))
    )
    hi = (
        cum.join(F.broadcast(ng), "g")
        .where(100 * F.col("cum") >= (100 - pct) * F.col("n_g"))
        .groupBy("g")
        .agg(F.min("v").alias("hi"))
    )
    clipped = (
        gv.join(F.broadcast(lo), "g")
        .join(F.broadcast(hi), "g")
        .select(
            "g",
            "cnt",
            "lo",
            "hi",
            F.greatest(F.least(F.col("v"), F.col("hi")), F.col("lo")).alias(
                "vw"
            ),
            F.when(
                (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
                F.col("v"),
            ).alias("vt"),
        )
    )
    return (
        clipped.groupBy("g", "lo", "hi")
        .agg(
            F.sum("cnt").alias("n"),
            F.expr("(10 * sum(cnt * vw)) div sum(cnt)").alias(
                "winsor_mean_millicent"
            ),
            F.expr(
                "(10 * sum(CASE WHEN vt IS NOT NULL THEN cnt * vt END))"
                " div sum(CASE WHEN vt IS NOT NULL THEN cnt END)"
            ).alias("trim_mean_millicent"),
        )
        .select(
            F.col("g").alias("event_type"),
            "n",
            F.col("lo").alias("p05_cents"),
            F.col("hi").alias("p95_cents"),
            "winsor_mean_millicent",
            "trim_mean_millicent",
        )
        .orderBy("event_type")
    )


def _agg_winsorized_mean(spark, sf_dir):
    return winsorized_mean(t(spark, sf_dir, "events"))


_WINSOR_SQL = f"""
WITH gv AS (
  SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT g, v, cnt,
         CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
  FROM gv
),
ng AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g FROM gv GROUP BY 1),
lo AS (
  SELECT cum.g, min(v) AS lo FROM cum JOIN ng ON cum.g = ng.g
  WHERE 100 * cum >= {WINSOR_PCT} * n_g GROUP BY 1
),
hi AS (
  SELECT cum.g, min(v) AS hi FROM cum JOIN ng ON cum.g = ng.g
  WHERE 100 * cum >= {100 - WINSOR_PCT} * n_g GROUP BY 1
),
clipped AS (
  SELECT gv.g, cnt, lo, hi,
         greatest(least(v, hi), lo) AS vw,
         CASE WHEN v >= lo AND v <= hi THEN v END AS vt
  FROM gv JOIN lo ON gv.g = lo.g JOIN hi ON gv.g = hi.g
)
SELECT g AS event_type, CAST(sum(cnt) AS BIGINT) AS n,
       lo AS p05_cents, hi AS p95_cents,
       (10 * CAST(sum(cnt * vw) AS BIGINT)) // CAST(sum(cnt) AS BIGINT)
           AS winsor_mean_millicent,
       (10 * CAST(sum(CASE WHEN vt IS NOT NULL THEN cnt * vt END) AS BIGINT))
           // CAST(sum(CASE WHEN vt IS NOT NULL THEN cnt END) AS BIGINT)
           AS trim_mean_millicent
FROM clipped GROUP BY g, lo, hi ORDER BY event_type
"""


RELATIONAL_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("flagship_pipeline", _flagship, _FLAGSHIP_SQL),
        QueryDef("agg_approx_sketch", _agg_approx_sketch, None),
        QueryDef("unpivot_melt", _unpivot_melt, _UNPIVOT_SQL),
        QueryDef("agg_rollup", _agg_rollup, _AGG_ROLLUP_SQL),
        QueryDef("join_asof", _join_asof, _JOIN_ASOF_SQL),
        QueryDef("agg_percentiles", _agg_percentiles, _AGG_PERCENTILES_SQL),
        QueryDef("set_ops", _set_ops, _SET_OPS_SQL),
        QueryDef("string_functions", _string_functions, _STRING_FUNCS_SQL),
        QueryDef("array_functions", _array_functions, _ARRAY_FUNCS_SQL),
        QueryDef("datetime_functions", _datetime_functions, _DATETIME_FUNCS_SQL),
        QueryDef(
            "project_columns",
            _project_columns,
            "SELECT l_orderkey, l_partkey, l_quantity, l_shipdate FROM lineitem",
        ),
        QueryDef(
            "filter_date_range",
            _filter_date_range,
            """SELECT o_orderkey, o_custkey, o_orderdate FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate < TIMESTAMP '1997-01-01'""",
        ),
        QueryDef(
            "filter_pushdown_partition",
            _filter_pushdown_partition,
            f"""SELECT l_returnflag, count(*) AS n_rows,
                      {sql_money_sum('l_quantity')} AS sum_qty
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01'
               GROUP BY l_returnflag""",
        ),
        QueryDef(
            "filter_compound",
            _filter_compound,
            """SELECT o_orderkey, o_orderpriority FROM orders
               WHERE length(o_orderpriority) > 6 AND year(o_orderdate) = 1997""",
        ),
        QueryDef(
            "project_conditional",
            _project_conditional,
            """SELECT c_custkey, c_mktsegment,
                      CASE WHEN c_acctbal > 0 THEN c_acctbal END AS pos_acctbal
               FROM customer""",
        ),
        QueryDef(
            "join_inner_equi",
            _join_inner_equi,
            f"""SELECT l_orderkey, l_linenumber, o_custkey,
                      {sql_round2('l_extendedprice * (1 - l_discount)')} AS net_price
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
        ),
        QueryDef(
            "join_broadcast",
            _join_broadcast,
            f"""SELECT p_brand, count(*) AS n_items,
                      {sql_money_sum('l_quantity')} AS sum_qty,
                      {sql_money_avg('p_retailprice')} AS avg_retail
               FROM lineitem JOIN part ON l_partkey = p_partkey
               GROUP BY p_brand""",
        ),
        QueryDef(
            "join_left_anti",
            _join_left_anti,
            """SELECT c_custkey, c_name FROM customer c
               WHERE NOT EXISTS (
                 SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderdate >= TIMESTAMP '2000-01-01')""",
        ),
        QueryDef(
            "join_left_semi",
            _join_left_semi,
            """SELECT c_custkey, c_name FROM customer c
               WHERE EXISTS (
                 SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderpriority = '1-URGENT')""",
        ),
        QueryDef(
            "join_range_interval",
            _join_range_interval,
            """SELECT e1.user_id, e1.event_id AS error_id,
                      e2.event_id AS next_id, e2.event_type AS next_type
               FROM events e1
               JOIN events e2
                 ON e1.user_id = e2.user_id
                AND e2.ts > e1.ts
                AND e2.ts <= e1.ts + INTERVAL 1 HOUR
               WHERE e1.event_type = 'error'""",
        ),
        QueryDef(
            "topk_latest",
            _topk_latest,
            """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
               FROM events
               QUALIFY row_number() OVER (ORDER BY ts DESC, event_id ASC) = 1""",
        ),
        QueryDef(
            "union_all",
            _union_all,
            """SELECT o_orderkey AS key, 'y1995' AS src FROM orders
               WHERE year(o_orderdate) = 1995
               UNION ALL
               SELECT o_orderkey AS key, 'y1996' AS src FROM orders
               WHERE year(o_orderdate) = 1996""",
        ),
        QueryDef(
            "agg_min_max",
            _agg_min_max,
            """SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS od_min_day,
                      strftime(max(o_orderdate), '%Y-%m-%d') AS od_max_day
               FROM orders""",
        ),
        QueryDef(
            "pivot_key_value",
            _pivot_key_value,
            "SELECT user_id, "
            + ", ".join(
                f"sum(CASE WHEN event_type = '{et}' THEN "
                f"CAST(floor(value * 100 + 0.5) AS BIGINT) END) / 100.0 AS {et}"
                for et in EVENT_TYPES
            )
            + " FROM events GROUP BY user_id",
        ),
        QueryDef(
            "array_element_extract",
            _array_element_extract,
            """SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x0,
                      CAST(embedding[2] AS DOUBLE) AS x1, label
               FROM embeddings""",
        ),
        QueryDef(
            "schema_align_union",
            _schema_align_union,
            """SELECT c_custkey AS key, c_name AS name, CAST(NULL AS DOUBLE) AS acctbal
               FROM customer
               UNION ALL
               SELECT s_suppkey AS key, CAST(NULL AS VARCHAR) AS name, s_acctbal
               FROM supplier""",
        ),
        QueryDef(
            "explode_nested",
            _explode_nested,
            """SELECT w AS word, count(*) AS n
               FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
               WHERE w <> '' GROUP BY w""",
        ),
        QueryDef(
            "json_extract",
            _json_extract,
            f"""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                      count(*) AS n, {sql_money_sum('value')} AS sum_value
               FROM events GROUP BY 1""",
        ),
        QueryDef(
            "normalize_defaults",
            _normalize_defaults,
            f"""SELECT c_custkey,
                      coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS segment,
                      {sql_round2("coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)")} AS acctbal
               FROM customer""",
        ),
        QueryDef(
            "cast_schema",
            _cast_schema,
            """SELECT l_orderkey, l_linenumber,
                      CAST(floor(l_quantity) AS BIGINT) AS qty_long,
                      CAST(l_linenumber AS DOUBLE) AS linenumber_d,
                      CAST(l_discount > 0 AS INTEGER) AS has_discount_int
               FROM lineitem""",
        ),
        QueryDef(
            "date_format",
            _date_format_q,
            "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d FROM orders",
        ),
        QueryDef(
            "generate_date_series",
            _generate_date_series,
            """SELECT strftime(d, '%Y-%m-%d') AS day
               FROM (SELECT unnest(generate_series(DATE '2024-01-01',
                                                   DATE '2024-03-31',
                                                   INTERVAL 1 DAY)) AS d)""",
        ),
        QueryDef(
            "date_add_window",
            _date_add_window,
            """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS day,
                      strftime(o_orderdate + INTERVAL 29 DAY, '%Y-%m-%d') AS window_end_day
               FROM orders""",
        ),
        QueryDef(
            "epoch_convert",
            _epoch_convert,
            "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events",
        ),
        QueryDef(
            "string_split_extract",
            _string_split_extract,
            """SELECT event_id,
                      'intraday/' || event_type || '/' || event_type || '_'
                        || strftime(ts, '%Y-%m-%d') || '.parquet' AS key,
                      strftime(ts, '%Y-%m-%d') AS file_day
               FROM events""",
        ),
        QueryDef(
            "string_concat_format",
            _string_concat_format,
            """SELECT o_orderkey,
                      printf('orders/%s/order_%d.parquet', o_orderstatus, o_orderkey) AS path
               FROM orders""",
        ),
        QueryDef(
            "array_join",
            _array_join_q,
            """SELECT doc_id,
                      array_to_string(list_sort(list_filter(string_split(text, ' '),
                                                            x -> x <> '')), ',') AS joined
               FROM documents""",
        ),
        QueryDef(
            "math_round",
            _math_round,
            f"""SELECT l_orderkey, l_linenumber,
                      {sql_round2('l_extendedprice / 60.0')} AS per_minute
               FROM lineitem""",
        ),
        QueryDef(
            "string_contains",
            _string_contains,
            "SELECT doc_id, n_chars FROM documents WHERE contains(text, 'merge')",
        ),
        QueryDef(
            "scalar_battery",
            _scalar_battery,
            f"""SELECT event_id,
                      strftime(ts, '%Y-%m-%d') AS day,
                      strftime(CAST(ts AS DATE) + INTERVAL 29 DAY, '%Y-%m-%d')
                        AS window_end_day,
                      CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
                      'intraday/' || event_type || '/' || event_type || '_'
                        || strftime(ts, '%Y-%m-%d') || '.parquet' AS key,
                      strftime(ts, '%Y-%m-%d') AS file_day,
                      {sql_round2('value / 60.0')} AS per_minute,
                      contains(props, '"k"') AS has_marker,
                      event_type || ',' || strftime(ts, '%Y-%m-%d') AS joined
               FROM events""",
        ),
        QueryDef("agg_cube", _agg_cube, _CUBE_SQL),
        QueryDef("join_salted_skew", _join_salted_skew, _SALTED_SQL),
        QueryDef("agg_linear_fit", _agg_linear_fit, _LINEAR_FIT_SQL),
        QueryDef("agg_mode_argmax", _agg_mode_argmax, _MODE_SQL),
        QueryDef("join_bucketed_colocated", _join_bucketed_colocated, _BUCKETED_SQL),
        QueryDef("agg_string_concat", _agg_string_concat, _STRING_CONCAT_SQL),
        QueryDef("agg_incremental_merge", _agg_incremental_merge, _INCR_MERGE_SQL),
        QueryDef("agg_dispersion", _agg_dispersion, _DISPERSION_SQL),
        QueryDef("orders_seasonality", _orders_seasonality, _SEASONALITY_SQL),
        QueryDef("agg_grouping_sets", _agg_grouping_sets, _GROUPING_SETS_SQL),
        QueryDef("set_ops_all", _set_ops_all, _SET_OPS_ALL_SQL),
        QueryDef("array_hof_battery", _array_hof_battery, _HOF_SQL),
        QueryDef("range_join_events", _range_join_events, _RANGE_SQL),
        QueryDef("orders_pareto", _orders_pareto, _PARETO_SQL),
        QueryDef("orders_cohort_ltv", _orders_cohort_ltv, _LTV_SQL),
        QueryDef("join_asof_nearest", _join_asof_nearest, _ASOF_NEAREST_SQL),
        QueryDef("join_asof_forward", _join_asof_forward, _ASOF_FWD_SQL),
        QueryDef("json_variant_extract", _json_variant_extract, _VARIANT_SQL),
        QueryDef("sql_recursive_reach", _sql_recursive_reach, _reach_oracle_sql()),
        QueryDef("sql_lateral_topn", _sql_lateral_topn, _LATERAL_ORACLE_SQL),
        QueryDef("sql_pipe_syntax", _sql_pipe_syntax, _PIPE_SQL),
        QueryDef("agg_higher_moments", _agg_higher_moments, _MOMENTS_SQL),
        QueryDef("dim_asof_lookup", _dim_asof_lookup, _DIM_ASOF_SQL),
        QueryDef("agg_weighted_median", _agg_weighted_median, _WMEDIAN_SQL),
        QueryDef("join_interval_overlap", _join_interval_overlap, _OVERLAP_SQL),
        QueryDef("join_asof_tolerance", _join_asof_tolerance, _ASOF_TOL_SQL),
        QueryDef("sql_group_by_all", _sql_group_by_all, _GROUP_BY_ALL_SQL),
        QueryDef("agg_countmin_heavy", _agg_countmin_heavy, _CM_SQL),
        QueryDef("agg_equiwidth_histogram", _agg_equiwidth_histogram, _HIST_SQL),
        QueryDef("agg_winsorized_mean", _agg_winsorized_mean, _WINSOR_SQL),
    )
}
