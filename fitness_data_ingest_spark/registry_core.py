"""Core relational / reshape / scalar query registry (SURVEY.md §2).

Every entry has a Spark implementation built from the operator library
(``ops/``) and a DuckDB oracle SQL string with IDENTICAL column names
(the driver's compare sorts columns by name and value-hashes).

Determinism rules (FIXTURES.md "Oracle notes"):
- session timezone pinned UTC (registry_util.t → configure_runtime);
- every computed column aliased identically on both sides;
- floating aggregates rounded (F.round(x, 2));
- derived timestamps returned as formatted strings.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from .io import scan_with_lineage, write_partitioned
from .ops import relational as R
from .ops import reshape as RS
from .ops import scalar as SC
from .ops.scale import ranked_topk
from .registry_util import (
    QueryDef,
    cents,
    money_avg,
    money_sum,
    round2,
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


def _window_rank_functions(spark, sf_dir):
    """Ranking-function family over one window: rank / dense_rank /
    ntile / percent_rank. Total order (value cents desc, user_id) makes
    every function engine-deterministic, including ntile tie placement."""
    ev = t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id", "event_type").agg(
        F.sum(cents(F.col("value"))).alias("total_c")
    )
    from pyspark.sql import Window

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


def _tpch_q8(spark, sf_dir):
    """National-market-share (q8 shape): share-of-total as a conditional
    aggregate ratio — numerator and denominator in ONE pass over the
    joined facts (no second scan, no self-join). Supplier nation tags
    each row; customer nation restricts to the ASIA region."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n2 = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.n1_key)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == n2.n_nationkey)
        .join(F.broadcast(region), n2.n_regionkey == region.r_regionkey)
    )
    agg = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0))).alias(
            "n1_c"
        ),
        F.sum(rev).alias("all_c"),
    )
    return agg.select(
        "o_year",
        (
            F.floor(F.col("n1_c").cast("double") / F.col("all_c") * 1000000 + 0.5)
            / 1000000.0
        ).alias("mkt_share6"),
        (F.col("all_c") / 100.0).alias("total_revenue"),
    )


_TPCH_Q8_SQL = """
WITH j AS (
  SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA')
SELECT o_year,
       floor(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev_c ELSE 0 END)
                  AS DOUBLE) / sum(rev_c) * 1000000 + 0.5) / 1000000.0 AS mkt_share6,
       sum(rev_c) / 100.0 AS total_revenue
FROM j GROUP BY o_year
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


def _tpch_q7(spark, sf_dir):
    """Volume-shipping (q7 shape): the 6-way join with a symmetric
    two-nation predicate. Supplier and customer nations resolve through
    two separate broadcast copies of the tiny nation dim; the pair
    filter evaluates post-join; revenue rolls up per (n1, n2, year)."""
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    j = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.n1_key)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == n2.n2_key)
        .filter(pair)
    )
    return j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_TPCH_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_rows
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


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


def _tpch_q19(spark, sf_dir):
    """Discounted-revenue (q19 shape): join under a DISJUNCTION of
    conjunctive predicates. The per-table halves of each disjunct still
    push to both scans (Catalyst factors the common parts); the residual
    OR evaluates post-join — the planner-stress shape."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
    )
    return j.filter(cond).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_TPCH_Q19_SQL = f"""
SELECT {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 30)
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


def _window_row_number(spark, sf_dir):
    """A1 grouped — latest event per user via window row_number."""
    ev = t(spark, sf_dir, "events")
    latest = R.latest_per_group(ev, ["user_id"], "ts", "event_id")
    return latest.select(
        "user_id", "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s")
    )


def _dedup_distinct(spark, sf_dir):
    """A2 — drop_duplicates (get_stream_data.py:76)."""
    return R.distinct_keys(t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


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


def _sink_roundtrip(spark, sf_dir):
    """S4 — partitioned parquet sink + scan-back (write path of
    fitbit_utils.py:285-287 with partitionBy replacing the path
    convention). Result must equal the direct aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    # keyed by (pid, sf) — the returned DataFrame is lazy, so cross-SF
    # runs in one process must not overwrite each other's sink before
    # the slower one is consumed (ADVICE r7, same fix as the r7
    # format-roundtrip keys; caught live by the cross-SF interleave
    # probe in round 8). Reap BEFORE the first own-pid write so a
    # pid-reuse leftover can't be served (ADVICE r8).
    from .registry_util import _reap_stale_tmp

    _reap_stale_tmp()
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"fdis_sink_roundtrip_{os.getpid()}_"
        f"{os.path.basename(os.path.normpath(sf_dir))}",
    )
    write_partitioned(li, out_dir, partition_by=["l_returnflag"])
    back = spark.read.parquet(out_dir)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        money_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


def _manifest_scan(spark, sf_dir):
    """S6 — file manifest as data: per-file row counts via
    input_file_name() (the reference lists S3 into a dict,
    fitbit_utils.py:46-89; Spark's file index is the same pass)."""
    ev = scan_with_lineage(t(spark, sf_dir, "events"))
    return ev.groupBy("file_name").agg(F.count(F.lit(1)).alias("n_rows"))


# ------------------------------------------------------ scalar functions


def _ts_concat_parse(spark, sf_dir):
    """F1+F13 — date-string + time-of-day → timestamp
    (fitbit_utils.py:382-386)."""
    ev = t(spark, sf_dir, "events")
    parsed = SC.ts_from_date_and_time(SC.date_str(F.col("ts")), SC.time_of_day_str(F.col("ts")))
    return ev.select(
        "event_id", F.date_format(parsed, "yyyy-MM-dd HH:mm:ss").alias("ts_rebuilt")
    )


def _date_format_q(spark, sf_dir):
    """F2 — strftime('%Y-%m-%d') (fitbit_utils.py:225,387,419)."""
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", SC.date_str(F.col("o_orderdate")).alias("d")
    )


def _generate_date_series(spark, sf_dir):
    """F3 — pd.date_range driving sequence (fitbit_utils.py:211-212),
    newest-first by construction; emitted as rows."""
    seq = SC.date_series("2024-01-01", "2024-03-31", newest_first=True)
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
        SC.date_str(F.col("o_orderdate")).alias("day"),
        F.date_format(SC.window_end(F.to_date("o_orderdate"), 29), "yyyy-MM-dd").alias(
            "window_end_day"
        ),
    )


def _epoch_convert(spark, sf_dir):
    """F5 — datetime→epoch seconds (utils.py:58-59)."""
    ev = t(spark, sf_dir, "events")
    return ev.select("event_id", SC.epoch_seconds(F.col("ts")).alias("epoch_s"))


def _string_split_extract(spark, sf_dir):
    """F6+F7 — build the storage key, then parse the date back out of the
    filename (get_stream_data.py:56-61; key layout fitbit_utils.py:227-228)."""
    ev = t(spark, sf_dir, "events")
    key = SC.object_key("intraday", F.col("event_type"), F.col("ts"))
    out = ev.select("event_id", key.alias("key"))
    return out.select(
        "event_id",
        "key",
        F.date_format(SC.filename_date(F.col("key")), "yyyy-MM-dd").alias("file_day"),
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
    words = F.array_sort(F.filter(F.split("text", " "), lambda x: x != ""))
    return docs.select("doc_id", SC.joined_keys(words).alias("joined"))


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
    return docs.filter(SC.contains_key(F.col("text"), F.lit("merge"))).select(
        "doc_id", "n_chars"
    )


def _scalar_battery(spark, sf_dir):
    """F4+F5+F6+F7+F8+F10+F11 in one scan — the consolidated driver
    verdict for the scalar tail (each op also keeps its own registry
    key for per-op use; those trail the driver window). One row per
    event, every scalar family exercised on real columns."""
    ev = t(spark, sf_dir, "events")
    day = SC.date_str(F.col("ts"))
    key = SC.object_key("intraday", F.col("event_type"), F.col("ts"))
    return ev.select(
        "event_id",
        day.alias("day"),
        F.date_format(SC.window_end(F.to_date("ts"), 29), "yyyy-MM-dd").alias(
            "window_end_day"
        ),
        SC.epoch_seconds(F.col("ts")).alias("epoch_s"),
        key.alias("key"),
        F.date_format(SC.filename_date(key), "yyyy-MM-dd").alias("file_day"),
        round2(F.col("value") / 60.0).alias("per_minute"),
        SC.contains_key(F.col("props"), F.lit('"k"')).alias("has_marker"),
        SC.joined_keys(F.array(F.col("event_type"), day)).alias("joined"),
    )



# ------------------------------------------------ TPC-H-style headliners
# Classic analytical shapes over the fixture star schema. Aggregates use exact integer-cents sums so cross-engine
# ordering (Q3 top-10) is deterministic.


def _tpch_q1(spark, sf_dir):
    """Pricing summary: scan-heavy groupBy with 8 aggregates."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(F.col("l_quantity")).alias("sum_qty"),
        money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
        money_sum(disc_price).alias("sum_disc_price"),
        money_sum(charge).alias("sum_charge"),
        money_avg(F.col("l_quantity")).alias("avg_qty"),
        money_avg(F.col("l_extendedprice")).alias("avg_price"),
        money_avg(F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def _tpch_q3(spark, sf_dir):
    """Shipping-priority top-10: 3-way join + exact-cents ranking.

    Scale notes: joins are flat (no broadcast-of-a-join, which would force
    an extra driver collect); ``orders`` is NOT force-broadcast — at SF1000
    it is billions of rows, so the join strategy is left to AQE, which
    broadcasts it at bench scale from runtime stats. Only the
    segment-filtered customer keys (1/5 of a dim) carry a broadcast hint.
    The final top-10 is limit-then-rank (the q2 pattern): a distributed
    TakeOrderedAndProject keeps 10 survivors per partition, and the
    output rank is derived window-free from those <=10 rows
    (``ranked_topk``: array_sort + posexplode) — the per-orderkey
    aggregate is fact-grain, so ranking it directly would
    single-partition-sort billions of rows at SF1000. The order is total
    (l_orderkey is unique in the aggregate), so limit+re-rank is
    equivalent to rank-then-filter.
    """
    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    j = li.join(orders, li.l_orderkey == F.col("o_orderkey")).join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    agg = j.groupBy("l_orderkey", "o_orderpriority").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_c")
    )
    return (
        ranked_topk(agg, [("rev_c", "desc"), ("l_orderkey", "asc")], 10)
        .select(
            "l_orderkey", "o_orderpriority", (F.col("rev_c") / 100.0).alias("revenue"), "rnk"
        )
    )


def _tpch_q5(spark, sf_dir):
    """Local-supplier revenue by nation in ASIA: 6-table join chain with
    broadcast dims (nation/region/supplier/customer are all dims)."""
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    li = t(spark, sf_dir, "lineitem")
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    # orders/customer/supplier are NOT force-broadcast: at SF1000 they are
    # far beyond driver memory. AQE broadcasts them at bench scale from
    # runtime stats; nation/region (25 / 5 rows at every SF) stay hinted.
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(dims, F.col("o_custkey") == dims.c_custkey)
        .join(supp.select("s_suppkey", "s_nationkey"),
              li.l_suppkey == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return j.groupBy("n_name").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_money_sum('l_quantity')} AS sum_qty,
       {sql_money_sum('l_extendedprice')} AS sum_base_price,
       {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_money_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_money_avg('l_quantity')} AS avg_qty,
       {sql_money_avg('l_extendedprice')} AS avg_price,
       {sql_money_avg('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_TPCH_Q3_SQL = """
WITH agg AS (
  SELECT l_orderkey, o_orderpriority,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND l_shipdate >= TIMESTAMP '1998-01-01'
  GROUP BY l_orderkey, o_orderpriority)
SELECT l_orderkey, o_orderpriority, rev_c / 100.0 AS revenue,
       row_number() OVER (ORDER BY rev_c DESC, l_orderkey ASC) AS rnk
FROM agg
QUALIFY rnk <= 10
"""

_TPCH_Q5_SQL = f"""
SELECT n_name, {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
  AND c_nationkey = s_nationkey
GROUP BY n_name
"""


def _tpch_q4(spark, sf_dir):
    """Order-priority checking (q4 shape): count orders per priority that
    have at least one late-shipped lineitem. The fixture lineitem has no
    l_commitdate, so "late" is l_shipdate > o_orderdate + 60 days. The
    EXISTS is a conditional left-semi join — at scale this shuffles both
    sides on orderkey once and never materializes the match multiplicity.
    """
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.timestamp_add("DAY", F.lit(60), orders.o_orderdate)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


_TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def _tpch_q6(spark, sf_dir):
    """Forecasting-revenue-change (q6): pure scan + pushed filter + single
    aggregate — the whole plan is one codegen stage over a pruned scan."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_TPCH_Q6_SQL = f"""
SELECT {sql_money_sum('l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def _tpch_q18(spark, sf_dir):
    """Large-volume customer (q18 shape): aggregate-filtered join. The
    qualifying-orderkey set comes from a groupBy HAVING; joining through
    it keeps the second pass semi-join-sized. Both aggregations shuffle
    on l_orderkey/o_orderkey, so AQE reuses the exchange partitioning."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_day"),
            round2(F.col("o_totalprice")).alias("o_totalprice_r"),
            "total_qty",
        )
    )


_TPCH_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_day,
       {sql_round2('o_totalprice')} AS o_totalprice_r,
       total_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def _tpch_q10(spark, sf_dir):
    """Returned-item reporting (q10 shape): 4-way join, revenue per
    customer over returned lineitems, top-20. Join order: lineitem is
    filtered on returnflag FIRST (cuts the fact ~3×), orders carries the
    quarter filter; nation broadcasts. The top-20 is limit-then-rank
    (the q2 pattern): a distributed TakeOrderedAndProject keeps 20
    survivors per partition; the output rank derives window-free from
    those <=20 rows (``ranked_topk``) — the per-customer aggregate is
    |customers|-grain, far too big for a single-partition sort at
    SF1000. The order is total
    (c_custkey unique in the aggregate), so limit+re-rank is
    equivalent to rank-then-filter."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_c")
    )
    return (
        ranked_topk(agg, [("rev_c", "desc"), ("c_custkey", "asc")], 20)
        .select(
            "c_custkey", "c_name", "n_name",
            (F.col("rev_c") / 100.0).alias("revenue"), "rnk",
        )
    )


_TPCH_Q10_SQL = """
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1995-10-01'
    AND o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY c_custkey, c_name, n_name)
SELECT c_custkey, c_name, n_name, rev_c / 100.0 AS revenue,
       row_number() OVER (ORDER BY rev_c DESC, c_custkey ASC) AS rnk
FROM agg
QUALIFY rnk <= 20
"""


def _tpch_q14(spark, sf_dir):
    """Promotion-effect (q14 shape): conditional aggregation — CASE
    inside the sum, one pass, no second scan. The part join is the only
    shuffle (or broadcast at bench scale via AQE)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        (F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))) / 100.0).alias(
            "promo_revenue"
        ),
        (F.sum(rev) / 100.0).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_TPCH_Q14_SQL = """
SELECT sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                ELSE 0 END) / 100.0 AS promo_revenue,
       sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0
         AS total_revenue,
       count(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01'
  AND l_shipdate < TIMESTAMP '1995-10-01'
"""


def _window_running_sum(spark, sf_dir):
    """Cumulative per-user analytics: running sum + lag delta over the
    event stream. Partitioned window (one shuffle on user_id, no global
    sort); ties broken by event_id so the frame is a total order and the
    oracle hash is deterministic."""
    from pyspark.sql import Window

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


CORE_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in [
        QueryDef("flagship_pipeline", _flagship, _FLAGSHIP_SQL, ("flagship",)),
        QueryDef("tpch_q1", _tpch_q1, _TPCH_Q1_SQL, ("bench",)),
        QueryDef("tpch_q3_top10", _tpch_q3, _TPCH_Q3_SQL, ("bench",)),
        QueryDef("tpch_q4_semi", _tpch_q4, _TPCH_Q4_SQL, ("bench",)),
        QueryDef("tpch_q5_region", _tpch_q5, _TPCH_Q5_SQL, ("bench",)),
        QueryDef("tpch_q6_filter_agg", _tpch_q6, _TPCH_Q6_SQL, ("bench",)),
        QueryDef("tpch_q10_returns", _tpch_q10, _TPCH_Q10_SQL, ("bench",)),
        QueryDef("tpch_q14_promo", _tpch_q14, _TPCH_Q14_SQL, ("bench",)),
        QueryDef("tpch_q18_large_orders", _tpch_q18, _TPCH_Q18_SQL, ("bench",)),
        QueryDef("tpch_q7_binations", _tpch_q7, _TPCH_Q7_SQL, ("bench",)),
        QueryDef("tpch_q8_mktshare", _tpch_q8, _TPCH_Q8_SQL, ("bench",)),
        QueryDef("agg_approx_sketch", _agg_approx_sketch, None, ("agg", "sketch")),
        QueryDef("tpch_q19_disjunctive", _tpch_q19, _TPCH_Q19_SQL, ("bench",)),
        QueryDef("unpivot_melt", _unpivot_melt, _UNPIVOT_SQL, ("reshape",)),
        QueryDef(
            "window_running_sum",
            _window_running_sum,
            _WINDOW_RUNNING_SUM_SQL,
            ("window",),
        ),
        QueryDef("agg_rollup", _agg_rollup, _AGG_ROLLUP_SQL, ("agg",)),
        QueryDef("join_asof", _join_asof, _JOIN_ASOF_SQL, ("join",)),
        QueryDef("agg_percentiles", _agg_percentiles, _AGG_PERCENTILES_SQL, ("agg",)),
        QueryDef(
            "window_rank_functions", _window_rank_functions, _WINDOW_RANK_SQL, ("window",)
        ),
        QueryDef("set_ops", _set_ops, _SET_OPS_SQL, ("setop",)),
        QueryDef("string_functions", _string_functions, _STRING_FUNCS_SQL, ("scalar",)),
        QueryDef("array_functions", _array_functions, _ARRAY_FUNCS_SQL, ("scalar",)),
        QueryDef(
            "datetime_functions", _datetime_functions, _DATETIME_FUNCS_SQL, ("scalar",)
        ),
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
            "window_row_number",
            _window_row_number,
            """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
               FROM events
               QUALIFY row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id ASC) = 1""",
        ),
        QueryDef(
            "dedup_distinct",
            _dedup_distinct,
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
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
            "sink_roundtrip",
            _sink_roundtrip,
            f"""SELECT l_returnflag, count(*) AS n_rows,
                      {sql_money_sum('l_extendedprice')} AS sum_price
               FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
               GROUP BY l_returnflag""",
        ),
        QueryDef(
            "manifest_scan",
            _manifest_scan,
            "SELECT 'events.parquet' AS file_name, count(*) AS n_rows FROM events",
        ),
        QueryDef(
            "ts_concat_parse",
            _ts_concat_parse,
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_rebuilt FROM events",
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
    ]
}
