"""Lakehouse and data-quality keys: sinks and format round-trips
(``sink_*``, ``source_*``), manifests, file compaction and layout
(``files_*``, ``zorder_*``, ``layout_*``, ``table_*``), MERGE / CDC /
SCD2 / incremental view maintenance (``merge_*``, ``warehouse_*``,
``scd2_*``, ``ivm_*``) and the data-quality audits (``dq_*``).

Keys that sink to a temp dir and scan it back key the dir by
(pid, fixture), because the returned DataFrame is lazy and the driver
may build one key for two SFs before collecting either. Exactness
follows the house rules of ``registry_util``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as ST

from .ext.text import token_hash
from .io import scan_with_lineage, write_partitioned
from .ops import incremental as INC
from .ops import relational as R
from .registry_util import (
    QueryDef,
    _reap_stale_tmp,
    cents,
    money_sum,
    round2,
    sql_money_sum,
    t,
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
    # the slower one is consumed (the same rule as the format-roundtrip
    # keys). Reap BEFORE the first own-pid write so a pid-reuse leftover
    # can't be served.
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


def _scd2_merge(spark, sf_dir):
    """SCD2/CDC classification between the customer snapshot and a
    deterministically mutated incoming snapshot (every %10th balance
    bumped, every %13==7 key deleted, a %97==3 clone set inserted) —
    exercises the full-outer MERGE diff on real data without a second
    fixture table."""
    cust = t(spark, sf_dir, "customer")
    cur = cust.select("c_custkey", "c_acctbal")
    upd_mod = cust.filter(F.col("c_custkey") % 13 != 7).select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100.0
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    upd_new = cust.filter(F.col("c_custkey") % 97 == 3).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
    )
    updates = upd_mod.unionByName(upd_new)
    return R.scd2_changes(cur, updates, "c_custkey", "c_acctbal")


_SCD2_SQL = """
WITH cur AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
upd AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS bal
  FROM customer WHERE c_custkey % 13 <> 7
  UNION ALL
  SELECT c_custkey + 1000000 AS k, 0.0 AS bal
  FROM customer WHERE c_custkey % 97 = 3),
j AS (SELECT cur.k AS ck, upd.k AS uk, cur.bal AS old_val, upd.bal AS new_val
      FROM cur FULL OUTER JOIN upd ON cur.k = upd.k)
SELECT coalesce(ck, uk) AS c_custkey,
       CASE WHEN uk IS NULL THEN 'close'
            WHEN ck IS NULL THEN 'insert'
            ELSE 'update' END AS action,
       old_val, new_val
FROM j
WHERE uk IS NULL OR ck IS NULL OR old_val <> new_val
"""


def _files_compaction_plan(spark, sf_dir):
    """Small-file compaction plan over a REAL partitioned sink: events
    are written Hive-partitioned by day (the reference's
    one-file-per-date convention, fitbit_utils.py:227-228 — the layout
    that breeds small files), the written files are manifest-scanned
    back (input_file_name row counts), and ``io.compaction_plan``
    greedily bins days to ~2000 rows per output file within each month
    (partition dirs never merge across months). The oracle derives the
    identical plan relationally — per-day row counts are invariant to
    the physical write — so the driver hash-checks planner math
    end-to-end. Metadata-grain: the planner windows over |files|, keyed
    by month."""
    import os as _os
    import tempfile as _tempfile

    from .io import compaction_plan, write_partitioned

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    # keyed by (pid, sf): lazy cross-SF runs must not clobber each
    # other's sink (same contract as sink_roundtrip); reap before the
    # first own-pid write so a pid-reuse leftover can't be served
    _reap_stale_tmp()
    out_dir = _os.path.join(
        _tempfile.gettempdir(),
        f"fdis_compact_plan_{_os.getpid()}_"
        f"{_os.path.basename(_os.path.normpath(sf_dir))}",
    )
    write_partitioned(ev, out_dir, partition_by=["day"])
    # Partition-column type inference turns the Hive `day=...` dir back
    # into DATE; the oracle (and the writer) use a yyyy-MM-dd string —
    # re-cast so both engines emit the same type for the driver's
    # type-sensitive value hash.
    back = spark.read.parquet(out_dir).withColumn(
        "day", F.col("day").cast("string")
    )
    per_file = back.groupBy("day").agg(F.count(F.lit(1)).alias("n_rows"))
    manifest = per_file.withColumn("month", F.substring("day", 1, 7))
    return compaction_plan(
        manifest, group_col="month", order_col="day",
        weight_col="n_rows", target=2000,
    )


_COMPACTION_SQL = """
WITH per AS (SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_rows
             FROM events GROUP BY 1),
m AS (SELECT substr(day, 1, 7) AS month, day, n_rows FROM per)
SELECT month, day, n_rows,
       CAST(floor(CAST(sum(n_rows) OVER (PARTITION BY month ORDER BY day
                                         ROWS UNBOUNDED PRECEDING) - n_rows
                       AS DOUBLE) / 2000) AS INT) AS bin
FROM m
"""


def _zorder_locality(spark, sf_dir):
    """Z-order (Morton) clustering audit: per z-cell bounding boxes
    over (l_partkey, l_suppkey). The z-key bit-interleaves the two
    dimensions (io.zorder_key), so sorting by it gives every cell a
    compact rectangle in BOTH dimensions — the layout
    ``write_zorder_clustered`` materializes for 2-D data skipping. The
    oracle rebuilds the identical interleave with ANSI bit operators,
    hash-checking the layout math end-to-end. Pure codegen'd bit
    arithmetic; one shuffled aggregate on the cell id."""
    from .io import zorder_key

    li = t(spark, sf_dir, "lineitem")
    z = zorder_key(F.col("l_partkey"), F.col("l_suppkey"), bits=8)
    return (
        li.withColumn("zcell", F.shiftright(z, 6))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("part_lo"),
            F.max("l_partkey").alias("part_hi"),
            F.min("l_suppkey").alias("supp_lo"),
            F.max("l_suppkey").alias("supp_hi"),
        )
    )


# the oracle's interleave is generated with the same bit positions as
# io.zorder_key (bit i of x -> 2i, bit i of y -> 2i+1); disjoint bit
# targets make sum equivalent to bitwise-or
_Z_TERMS = " + ".join(
    f"(((l_partkey >> {i}) & 1) << {2 * i}) + "
    f"(((l_suppkey >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)

_ZORDER_SQL = f"""
SELECT ({_Z_TERMS}) >> 6 AS zcell,
       count(*) AS n_rows,
       min(l_partkey) AS part_lo, max(l_partkey) AS part_hi,
       min(l_suppkey) AS supp_lo, max(l_suppkey) AS supp_hi
FROM lineitem
GROUP BY 1
"""


def _dq_audit_lineitem(spark, sf_dir):
    """Single-pass data-quality audit (Deequ-style constraint report)
    over the fact table: null counts on join/measure columns, domain
    violations (negative quantity, discount outside [0,1], shipdate
    outside the corpus era), plus referential orphans against orders —
    all constraint counters ride ONE scan as conditional sums, and the
    FK check is a broadcast-eligible left-anti pattern expressed as a
    null-probe left join so it shares the same pass shape. The audit a
    100 TB pipeline runs as a pre-publish gate: cost is one fact scan
    + one key join, independent of how many constraints are stacked."""
    li = t(spark, sf_dir, "lineitem")
    ok = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("fk_ok")
    ).distinct()
    probed = li.join(
        F.broadcast(ok), li.l_orderkey == F.col("fk_ok"), "left"
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return probed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        flag(F.col("l_orderkey").isNull()).alias("null_orderkey"),
        flag(F.col("l_quantity").isNull()).alias("null_quantity"),
        flag(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        flag(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("discount_out_of_range"),
        flag(
            (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        ).alias("shipdate_out_of_era"),
        flag(F.col("fk_ok").isNull()).alias("orphan_orderkeys"),
    )


_DQ_AUDIT_SQL = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_orderkey,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_quantity,
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS nonpositive_quantity,
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS discount_out_of_range,
       CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                       OR l_shipdate >= TIMESTAMP '1999-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_out_of_era,
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS orphan_orderkeys
FROM lineitem li
LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON li.l_orderkey = o.o_orderkey
"""


# ---------------------------------------------------------------- MERGE


def _merge_upsert(spark, sf_dir):
    """Batch MERGE INTO: apply a deterministic CDC changeset (updates
    keys %7, deletes keys %13, inserts cloned keys %31 shifted +10M) to
    the orders snapshot — one full-outer join on the key, then sample
    keys ending in 3 for a stable driver-sized result."""
    orders = t(spark, sf_dir, "orders")
    upd = (
        orders.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", round2(F.col("o_totalprice") * 1.1))
        .withColumn("op", F.lit("U"))
    )
    dele = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn("op", F.lit("D"))
    ins = (
        orders.filter(F.col("o_orderkey") % 31 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        .withColumn("o_orderstatus", F.lit("I"))
        .withColumn("op", F.lit("I"))
    )
    changes = upd.unionByName(dele).unionByName(ins)
    merged = INC.merge_upsert(orders, changes, "o_orderkey")
    return merged.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        round2(F.col("o_totalprice")).alias("price2"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
    )


_MERGE_SQL = """
WITH u AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                  floor(o_totalprice * 1.1 * 100 + 0.5) / 100.0 AS o_totalprice,
                  o_orderdate, o_orderpriority, 'U' AS op
           FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0),
d AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 'D' AS op
      FROM orders WHERE o_orderkey % 13 = 0),
i AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
             'I' AS o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority, 'I' AS op
      FROM orders WHERE o_orderkey % 31 = 0),
chg AS (SELECT * FROM u UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
m AS (SELECT
        CASE WHEN c.op IN ('U','I') THEN c.o_orderkey ELSE s.o_orderkey END AS o_orderkey,
        CASE WHEN c.op IN ('U','I') THEN c.o_custkey ELSE s.o_custkey END AS o_custkey,
        CASE WHEN c.op IN ('U','I') THEN c.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
        CASE WHEN c.op IN ('U','I') THEN c.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
        CASE WHEN c.op IN ('U','I') THEN c.o_orderdate ELSE s.o_orderdate END AS o_orderdate
      FROM orders s FULL OUTER JOIN chg c ON s.o_orderkey = c.o_orderkey
      WHERE c.op IS NULL OR c.op <> 'D')
SELECT o_orderkey, o_custkey, o_orderstatus,
       floor(o_totalprice * 100 + 0.5) / 100.0 AS price2,
       strftime(o_orderdate, '%Y-%m-%d') AS od
FROM m WHERE o_orderkey % 10 = 3
"""


# ------------------------------------------------------------ TABLE DIFF


def _table_diff_snapshot(spark, sf_dir):
    """Diff two snapshot versions of orders (the new version derives
    deterministically: %7 keys re-priced ×1.1 + status 'U', %13 keys
    deleted, %31 keys cloned +10M as inserts) and report per-class row
    counts and money movement — one full-outer join, no window."""
    orders = t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    upd = F.col("o_orderkey") % 7 == 0
    new = base.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(upd, F.lit("U")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(
            upd,
            round2(F.col("o_totalprice") * 1.1),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).unionByName(
        base.filter(F.col("o_orderkey") % 31 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("I").alias("o_orderstatus"),
            F.col("o_totalprice"),
        )
    )
    d = INC.snapshot_diff(
        base, new, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )
    return d.groupBy("diff_class").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(cents(F.col("old_o_totalprice"))), F.lit(0))
        .cast("long")
        .alias("old_cents"),
        F.coalesce(F.sum(cents(F.col("new_o_totalprice"))), F.lit(0))
        .cast("long")
        .alias("new_cents"),
    )


_DIFF_SQL = """
WITH newsnap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0
              THEN floor(o_totalprice * 1.1 * 100 + 0.5) / 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'I', o_totalprice
  FROM orders WHERE o_orderkey % 31 = 0),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'A'
              WHEN n.o_orderkey IS NULL THEN 'R'
              WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'C'
              ELSE 'U' END AS diff_class,
         o.o_totalprice AS op, n.o_totalprice AS np
  FROM orders o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey)
SELECT diff_class, CAST(count(*) AS BIGINT) AS n,
       CAST(COALESCE(sum(CAST(floor(op * 100 + 0.5) AS BIGINT)), 0) AS BIGINT)
         AS old_cents,
       CAST(COALESCE(sum(CAST(floor(np * 100 + 0.5) AS BIGINT)), 0) AS BIGINT)
         AS new_cents
FROM d GROUP BY 1
"""


# -------------------------------------------------------------- JOIN IVM


def _ivm_join_delta(spark, sf_dir):
    """Join-view incremental maintenance: treat %17 orders and %23
    lineitems as today's inserts; compute the materialized
    orders⋈lineitem view's DELTA via the three-term propagation rule
    (never re-joining base⋈base), summarized per order status."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        cents(F.col("l_extendedprice"))
        .alias("price_c"),
    )
    old_o = orders.filter(F.col("o_orderkey") % 17 != 0)
    d_o = orders.filter(F.col("o_orderkey") % 17 == 0)
    old_l = li.filter(F.col("o_orderkey") % 23 != 0)
    d_l = li.filter(F.col("o_orderkey") % 23 == 0)
    delta = INC.join_delta(old_o, d_o, old_l, d_l, "o_orderkey")
    return delta.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price_c").alias("sum_cents"),
    )


_IVM_SQL = """
WITH o AS (SELECT o_orderkey, o_orderstatus FROM orders),
l AS (SELECT l_orderkey AS o_orderkey,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
      FROM lineitem),
oo AS (SELECT * FROM o WHERE o_orderkey % 17 <> 0),
do_ AS (SELECT * FROM o WHERE o_orderkey % 17 = 0),
ol AS (SELECT * FROM l WHERE o_orderkey % 23 <> 0),
dl AS (SELECT * FROM l WHERE o_orderkey % 23 = 0),
delta AS (
  SELECT do_.o_orderstatus, ol.price_c FROM do_ JOIN ol USING (o_orderkey)
  UNION ALL
  SELECT oo.o_orderstatus, dl.price_c FROM oo JOIN dl USING (o_orderkey)
  UNION ALL
  SELECT do_.o_orderstatus, dl.price_c FROM do_ JOIN dl USING (o_orderkey))
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(price_c) AS BIGINT) AS sum_cents
FROM delta GROUP BY 1
"""


# ------------------------------------------- ZONE-MAP LAYOUT AUDIT

# Synthetic file count for the layout simulation: enough files that the
# two layouts separate sharply, small enough that the stats table stays
# metadata-sized at fixture scale.
ZM_FILES = 16


def zonemap_overlap(lineitem, n_files: int = ZM_FILES):
    """Zone-map (file-skipping) effectiveness audit: assign every row to
    one of ``n_files`` synthetic files under TWO layouts — ``hash``
    (md5 of the order key: the layout an unsorted ingest produces) and
    ``range`` (contiguous ship-date ranges: the layout sort-on-write /
    Z-order produces) — then measure, per file, how many OTHER files'
    [min, max] ship-date ranges overlap it. Overlap depth is THE
    file-skipping metric (Snowflake's clustering_depth): a date-filtered
    scan must read every overlapping file, so hash-layout depth ≈
    n_files (zone maps useless) while range-layout depth ≈ 0 — the
    quantified argument for the zorder_locality/files_compaction_plan
    keys.

    Scale shape: ONE pass over the data builds per-(layout, file)
    min/max/count — a map-side-combinable groupBy onto 2·n_files rows.
    Everything after runs on that METADATA-sized table: the overlap
    self-join is equi on layout with range predicates over a bounded
    build (file count is a configuration constant, never data-sized).
    The date-span scalar rides in as a broadcast 1-row aggregate (the
    q14/q22 scalar-attach shape)."""
    li = lineitem.select(
        "l_orderkey", F.to_date("l_shipdate").alias("d")
    )
    bounds = li.agg(
        F.min("d").alias("dmin"),
        F.datediff(F.max("d"), F.min("d")).alias("span"),
    )
    hf = F.pmod(token_hash(F.col("l_orderkey").cast("string")), F.lit(n_files))
    rf = F.floor(
        F.datediff(F.col("d"), F.col("dmin")) * n_files / (F.col("span") + 1)
    ).cast("int")
    assigned = li.join(F.broadcast(bounds)).select(
        "d",
        F.explode(
            F.array(
                F.struct(F.lit("hash").alias("layout"), hf.cast("int").alias("f")),
                F.struct(F.lit("range").alias("layout"), rf.alias("f")),
            )
        ).alias("lf"),
    )
    stats = assigned.groupBy(
        F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d").alias("fmin"),
        F.max("d").alias("fmax"),
    )
    a = stats.select("layout", "f", "n_rows", "fmin", "fmax")
    b = stats.select(
        F.col("layout").alias("layout_b"),
        F.col("f").alias("f_b"),
        F.col("fmin").alias("bmin"),
        F.col("fmax").alias("bmax"),
    )
    ov = (
        a.join(
            b,
            (F.col("layout") == F.col("layout_b"))
            & (F.col("f") != F.col("f_b"))
            & (F.col("fmin") <= F.col("bmax"))
            & (F.col("bmin") <= F.col("fmax")),
            "left",
        )
        .groupBy("layout", "f")
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.first("fmin").alias("min_date"),
            F.first("fmax").alias("max_date"),
            F.sum(F.when(F.col("f_b").isNotNull(), 1).otherwise(0)).alias(
                "n_overlaps"
            ),
        )
    )
    return ov.orderBy("layout", "f")


def _layout_zonemap_overlap(spark, sf_dir):
    return zonemap_overlap(t(spark, sf_dir, "lineitem"))


_ZONEMAP_SQL = f"""
WITH li AS (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS d FROM lineitem),
b AS (SELECT min(d) AS dmin,
             date_diff('day', min(d), max(d)) AS span FROM li),
assigned AS (
  SELECT layout, f, d FROM (
    SELECT li.d,
           ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
             % {ZM_FILES} AS hf,
           CAST(floor(date_diff('day', b.dmin, li.d) * {ZM_FILES}
                      / (b.span + 1)) AS BIGINT) AS rf
    FROM li, b
  ) s, LATERAL (VALUES ('hash', s.hf), ('range', s.rf)) AS v(layout, f)
),
stats AS (
  SELECT layout, CAST(f AS INT) AS f, CAST(count(*) AS BIGINT) AS n_rows,
         min(d) AS fmin, max(d) AS fmax
  FROM assigned GROUP BY layout, f
)
SELECT a.layout, a.f, a.n_rows,
       a.fmin AS min_date, a.fmax AS max_date,
       CAST(count(b.f) AS BIGINT) AS n_overlaps
FROM stats a LEFT JOIN stats b
  ON a.layout = b.layout AND a.f <> b.f
 AND a.fmin <= b.fmax AND b.fmin <= a.fmax
GROUP BY a.layout, a.f, a.n_rows, a.fmin, a.fmax
ORDER BY a.layout, a.f
"""


# ------------------------------------------- BLOOM-FILTER PRUNE AUDIT

# Bloom geometry: 16 synthetic files, m=256 bits per file packed as
# 8 words x 32 bits (shifts stay < 32, so every mask is a positive
# int64 in both engines), k=3 hash functions, 500 synthetic probe keys.
BF_FILES = 16

BF_BITS = 256

BF_K = 3

BF_PROBES = 500


def bloom_prune_audit(orders):
    """Bloom-filter data-skipping audit — the third leg of the skipping
    triad (min/max zone maps: layout_zonemap_overlap; clustering:
    zorder_locality; membership: this). Each synthetic file gets an
    m-bit bloom over its order keys (k deterministic md5 hash bits);
    the audit probes ``BF_PROBES`` keys GUARANTEED absent (beyond the
    corpus max) against every file and reports the realized
    false-positive rate per file — the number that decides whether
    shipping blooms into the manifest is worth it for point-lookup
    pruning.

    Scale shape: the bloom build is ONE map-side-combinable ``bit_or``
    shuffle onto (file, word) grain — 128 cells total, geometry-bounded
    like the count-min sketch; the probe set derives from a 1-row max
    aggregate (broadcast scalar attach) and expands in place to
    probes x files x k rows, which then equi-join the 128-cell bloom
    table broadcast. Nothing downstream of the build touches data
    grain."""
    keys = orders.select("o_orderkey").distinct()
    fid = F.pmod(token_hash(F.concat(F.lit("bf_file:"), F.col("o_orderkey").cast("string"))), F.lit(BF_FILES))
    bit_j = lambda j, col: F.pmod(
        token_hash(F.concat(F.lit(f"bf{j}:"), col.cast("string"))), F.lit(BF_BITS)
    )
    kb = keys.select(
        fid.alias("f"),
        F.explode(
            F.array(*[bit_j(j, F.col("o_orderkey")) for j in range(BF_K)])
        ).alias("bit"),
    )
    blooms = (
        kb.select(
            "f",
            (F.col("bit") / 32).cast("int").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(bit, 32) AS INT))"
            ).alias("mask"),
        )
        .groupBy("f", "word")
        .agg(F.bit_or("mask").alias("w"))
    )
    per_file = keys.select(fid.alias("f")).groupBy("f").agg(
        F.count(F.lit(1)).alias("n_keys")
    )
    mx = orders.agg(F.max("o_orderkey").alias("mx"))
    probes = (
        mx.select(
            F.explode(F.sequence(F.col("mx") + 1, F.col("mx") + BF_PROBES)).alias(
                "pk"
            )
        )
        .select(
            "pk",
            F.explode(F.sequence(F.lit(0), F.lit(BF_FILES - 1))).alias("f"),
        )
        .select(
            "pk",
            "f",
            F.explode(
                F.array(*[bit_j(j, F.col("pk")) for j in range(BF_K)])
            ).alias("bit"),
        )
        .select(
            "pk",
            "f",
            (F.col("bit") / 32).cast("int").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(bit, 32) AS INT))"
            ).alias("mask"),
        )
    )
    hits = (
        probes.join(F.broadcast(blooms), ["f", "word"], "left")
        .groupBy("pk", "f")
        .agg(
            F.min(
                (F.coalesce(F.col("w"), F.lit(0)).bitwiseAND(F.col("mask")) == F.col("mask")).cast("int")
            ).alias("member")
        )
        .filter(F.col("member") == 1)
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    return (
        per_file.join(hits, "f", "left")
        .select(
            "f",
            "n_keys",
            F.coalesce(F.col("n_fp"), F.lit(0)).alias("n_fp"),
            (
                F.floor(
                    F.coalesce(F.col("n_fp"), F.lit(0)).cast("double")
                    / BF_PROBES
                    * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("fp_rate4"),
        )
        .orderBy("f")
    )


def _table_bloom_prune_audit(spark, sf_dir):
    return bloom_prune_audit(t(spark, sf_dir, "orders"))


def _bf_bits_sql(j: int, expr: str) -> str:
    return (
        f"('0x' || substr(md5('bf{j}:' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {BF_BITS}"
    )


_BF_SQL = f"""
WITH keys AS (SELECT DISTINCT o_orderkey FROM orders),
kb AS (
  SELECT ('0x' || substr(md5('bf_file:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % {BF_FILES} AS f,
         unnest([{", ".join(_bf_bits_sql(j, "o_orderkey") for j in range(BF_K))}]) AS bit
  FROM keys
),
blooms AS (
  SELECT f, CAST(bit // 32 AS INT) AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS BIGINT) AS w
  FROM kb GROUP BY f, CAST(bit // 32 AS INT)
),
per_file AS (
  SELECT ('0x' || substr(md5('bf_file:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % {BF_FILES} AS f, CAST(count(*) AS BIGINT) AS n_keys
  FROM keys GROUP BY 1
),
probes AS (
  SELECT mx + 1 + p.i AS pk, fl.f, b.j
  FROM (SELECT max(o_orderkey) AS mx FROM orders),
       (SELECT unnest(range(0, {BF_PROBES})) AS i) p,
       (SELECT unnest(range(0, {BF_FILES})) AS f) fl,
       (SELECT unnest(range(0, {BF_K})) AS j) b
),
pb AS (
  SELECT pk, f,
         CASE j {" ".join(f"WHEN {j} THEN {_bf_bits_sql(j, 'pk')}" for j in range(BF_K))} END AS bit
  FROM probes
),
hits AS (
  SELECT pk, f FROM (
    SELECT pb.pk, pb.f,
           min(CASE WHEN COALESCE(bl.w, 0) & (CAST(1 AS BIGINT) << CAST(pb.bit % 32 AS INT))
                         = (CAST(1 AS BIGINT) << CAST(pb.bit % 32 AS INT))
                    THEN 1 ELSE 0 END) AS member
    FROM pb LEFT JOIN blooms bl
      ON bl.f = pb.f AND bl.word = CAST(pb.bit // 32 AS INT)
    GROUP BY pb.pk, pb.f) WHERE member = 1
),
fp AS (SELECT f, CAST(count(*) AS BIGINT) AS n_fp FROM hits GROUP BY f)
SELECT per_file.f, per_file.n_keys,
       CAST(COALESCE(fp.n_fp, 0) AS BIGINT) AS n_fp,
       floor(CAST(COALESCE(fp.n_fp, 0) AS DOUBLE) / {BF_PROBES} * 10000 + 0.5)
         / 10000.0 AS fp_rate4
FROM per_file LEFT JOIN fp USING (f)
ORDER BY per_file.f
"""


# ------------------------------------------- NDV PROFILING (MINCOUNT)

# MinCount geometry: 64 buckets of minimum hash values per column; the
# per-bucket estimate R div (min+1) - 1 uses INTEGER division so the
# 64-term sum is order-independent int64 (a double sum would make the
# result partitioning-dependent and unhashable cross-engine).
NDV_BUCKETS = 64

NDV_R = 1 << 32

NDV_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")


def ndv_mincount(lineitem):
    """Column-statistics collection at scale: exact NDV next to a
    MinCount sketch estimate (stochastic averaging of per-bucket
    minimum hashes — the KMV/HLL family member that stays EXACTLY
    reproducible, because its state is 64 integer minima of md5 values,
    not probabilistic registers) with the realized relative error.
    This is the ANALYZE TABLE primitive a CBO needs, restated as one
    job over all profiled columns with its own accuracy audit — the
    same exact-next-to-estimate framing as agg_countmin_heavy.

    Scale shape: ONE pass explodes each row into (column, value) pairs;
    ONE shuffle reduces to (column, value) grain — the same shuffle an
    exact count-distinct needs anyway, and min(hash) rides it for free;
    everything after runs on (column, bucket) grain (256 rows). At
    100 TB this replaces |columns| separate ANALYZE scans with one.
    The estimator needs no distinct at all (min over duplicate hashes
    is the min) — the distinct grain here is only for the exact-NDV
    half of the audit."""
    pairs = lineitem.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cname"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in NDV_COLS
                ]
            )
        ).alias("cv")
    ).select(F.col("cv.cname").alias("cname"), F.col("cv.val").alias("val"))
    # hash AFTER the distinct-grain reduction (r8): h is a pure function
    # of val, so min(h) over a (cname, val) group is just h — hashing
    # before the groupBy ran md5 once per OCCURRENCE (|cols| x |rows|),
    # hashing after runs it once per DISTINCT value. Same shuffle (the
    # map-side combine dedups either way), identical values.
    grain = pairs.distinct().withColumn(
        "h", token_hash(F.concat(F.lit("ndv:"), F.col("val")))
    )
    grain = grain.select(
        "cname", "val", "h", F.pmod(F.col("h"), F.lit(NDV_BUCKETS)).alias("b")
    )
    exact = grain.groupBy("cname").agg(F.count(F.lit(1)).alias("exact_ndv"))
    mins = grain.groupBy("cname", "b").agg(F.min("h").alias("mn"))
    est = mins.groupBy("cname").agg(
        F.sum(
            F.expr(f"CAST({NDV_R} AS BIGINT) div (mn + 1) - 1")
        ).alias("est_ndv")
    )
    return (
        exact.join(est, "cname")
        .select(
            "cname",
            "exact_ndv",
            "est_ndv",
            (
                F.floor(
                    F.abs(F.col("est_ndv") - F.col("exact_ndv")).cast("double")
                    / F.col("exact_ndv")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("rel_err4"),
        )
        .orderBy("cname")
    )


def _table_ndv_mincount(spark, sf_dir):
    return ndv_mincount(t(spark, sf_dir, "lineitem"))


_NDV_PAIRS = " UNION ALL ".join(
    f"SELECT '{c}' AS cname, CAST({c} AS VARCHAR) AS val FROM lineitem"
    for c in NDV_COLS
)

_NDV_SQL = f"""
WITH pairs AS ({_NDV_PAIRS}),
grain AS (
  SELECT cname, val,
         min(('0x' || substr(md5('ndv:' || val), 1, 8))::BIGINT) AS h
  FROM pairs GROUP BY cname, val
),
g2 AS (SELECT cname, val, h, h % {NDV_BUCKETS} AS b FROM grain),
exact AS (SELECT cname, CAST(count(*) AS BIGINT) AS exact_ndv
          FROM g2 GROUP BY cname),
mins AS (SELECT cname, b, min(h) AS mn FROM g2 GROUP BY cname, b),
est AS (SELECT cname,
               CAST(sum(CAST({NDV_R} AS BIGINT) // (mn + 1) - 1) AS BIGINT)
                 AS est_ndv
        FROM mins GROUP BY cname)
SELECT exact.cname, exact.exact_ndv, est.est_ndv,
       floor(abs(est.est_ndv - exact.exact_ndv)::DOUBLE / exact.exact_ndv
             * 10000 + 0.5) / 10000.0 AS rel_err4
FROM exact JOIN est USING (cname)
ORDER BY exact.cname
"""

FRESH_STALE_MIN = 60


def freshness_audit(events, stale_min: int = FRESH_STALE_MIN):
    """Per-stream freshness audit: last event time, lag behind the
    freshest stream (minutes), last-24h volume, and the stale flag the
    on-call alarm fires on.  One scan to the stream grain; the global
    horizon rides as a broadcast 1-row aggregate — the operational
    counterpart of stream_lateness_sweep."""
    per = events.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_total"),
    )
    hor = per.agg(F.max("last_us").alias("hmax"))
    last24 = (
        events.join(F.broadcast(hor))
        .where(F.unix_micros("ts") >= F.col("hmax") - 24 * 3600000000)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_last24h"))
    )
    lag_min = F.expr("(hmax - last_us) div 60000000")
    return (
        per.join(F.broadcast(hor))
        .join(last24, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            F.coalesce("n_last24h", F.lit(0)).alias("n_last24h"),
            lag_min.alias("lag_min"),
            (lag_min > stale_min).alias("stale"),
        )
        .orderBy("event_type")
    )


def _dq_freshness_audit(spark, sf_dir):
    return freshness_audit(t(spark, sf_dir, "events"))


_FRESH_SQL = f"""
WITH per AS (
  SELECT event_type, max(epoch_us(ts)) AS last_us,
         CAST(count(*) AS BIGINT) AS n_total
  FROM events GROUP BY event_type
),
hor AS (SELECT max(last_us) AS hmax FROM per),
l24 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_last24h
  FROM events, hor
  WHERE epoch_us(ts) >= hmax - 24 * 3600000000
  GROUP BY event_type
)
SELECT per.event_type, n_total,
       COALESCE(n_last24h, 0) AS n_last24h,
       (hmax - last_us) // 60000000 AS lag_min,
       (hmax - last_us) // 60000000 > {FRESH_STALE_MIN} AS stale
FROM per LEFT JOIN l24 ON per.event_type = l24.event_type, hor
ORDER BY per.event_type
"""

_FK_EDGES = (
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
)


def referential_integrity(tables: dict):
    """Referential-integrity audit over every FK edge of the star
    schema: orphan child rows (FK with no parent), childless parent
    keys, and key cardinalities — the nightly gate a warehouse runs
    before publishing a snapshot.

    Scale shape: per edge, the child collapses to its FK-key grain with
    ONE partial-aggregated groupBy (the key domain, not the row count),
    the parent to its PK grain, and the audit is a single full-outer
    join of the two key-grain tables. Counts aggregate to one row per
    edge; no row-grain join ever happens. The four edges union into a
    4-row report."""
    outs = []
    for edge, child, fk, parent, pk, in _FK_EDGES:
        ck = (
            tables[child]
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        pkeys = tables[parent].select(F.col(pk).alias("k")).distinct()
        j = ck.join(
            pkeys.withColumn("has_parent", F.lit(1)), "k", "full_outer"
        )
        outs.append(
            j.agg(
                F.lit(edge).alias("edge"),
                F.sum(F.coalesce("n_rows", F.lit(0))).alias("n_child_rows"),
                F.count(F.col("n_rows")).alias("n_child_keys"),
                F.sum(
                    F.when(F.col("has_parent").isNull(), F.col("n_rows"))
                    .otherwise(0)
                ).alias("n_orphan_rows"),
                F.count(
                    F.when(
                        F.col("has_parent").isNull() & F.col("n_rows").isNotNull(),
                        1,
                    )
                ).alias("n_orphan_keys"),
                F.count(F.col("has_parent")).alias("n_parent_keys"),
                F.count(
                    F.when(
                        F.col("n_rows").isNull() & F.col("has_parent").isNotNull(),
                        1,
                    )
                ).alias("n_childless_keys"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("edge")


def _dq_referential_integrity(spark, sf_dir):
    tabs = {
        n: t(spark, sf_dir, n)
        for n in ("orders", "customer", "lineitem", "part", "supplier")
    }
    return referential_integrity(tabs)


def _ri_edge_sql(edge, child, fk, parent, pk):
    return f"""
SELECT '{edge}' AS edge,
       CAST(sum(COALESCE(n_rows, 0)) AS BIGINT) AS n_child_rows,
       CAST(count(n_rows) AS BIGINT) AS n_child_keys,
       CAST(sum(CASE WHEN has_parent IS NULL THEN n_rows ELSE 0 END)
            AS BIGINT) AS n_orphan_rows,
       CAST(count(CASE WHEN has_parent IS NULL AND n_rows IS NOT NULL
                  THEN 1 END) AS BIGINT) AS n_orphan_keys,
       CAST(count(has_parent) AS BIGINT) AS n_parent_keys,
       CAST(count(CASE WHEN n_rows IS NULL AND has_parent IS NOT NULL
                  THEN 1 END) AS BIGINT) AS n_childless_keys
FROM (SELECT {fk} AS k, CAST(count(*) AS BIGINT) AS n_rows
      FROM {child} GROUP BY 1) ck
FULL OUTER JOIN (SELECT DISTINCT {pk} AS k, 1 AS has_parent
                 FROM {parent}) pk USING (k)
"""


_RI_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join(
        "(" + _ri_edge_sql(*e) + ")" for e in _FK_EDGES
    )
    + ") ORDER BY edge"
)

_UNIQ_KEYS = (
    ("customer.c_custkey", "customer", ("c_custkey",)),
    ("documents.doc_id", "documents", ("doc_id",)),
    ("events.event_id", "events", ("event_id",)),
    ("lineitem.l_orderkey:l_linenumber", "lineitem",
     ("l_orderkey", "l_linenumber")),
    ("orders.o_orderkey", "orders", ("o_orderkey",)),
    ("part.p_partkey", "part", ("p_partkey",)),
    ("supplier.s_suppkey", "supplier", ("s_suppkey",)),
)


def uniqueness_audit(tables: dict):
    """Candidate-key uniqueness audit: for each declared key (including
    lineitem's composite key), row count, null-key rows, distinct keys,
    the worst duplicate multiplicity, and the number of duplicated
    keys — the contract check every MERGE/SCD2 upstream depends on.

    Scale shape: one partial-aggregated groupBy per table AT THE KEY
    GRAIN, then a second aggregate over key groups to one row. Nothing
    ever leaves aggregate space; the 7 audits union into a 7-row
    report. Composite keys concatenate with a null-propagating concat
    so a null component audits as a null key."""
    outs = []
    for entity, table, cols in _UNIQ_KEYS:
        if len(cols) == 1:
            k = F.col(cols[0]).cast("string")
        else:
            k = F.concat(
                F.col(cols[0]).cast("string"),
                F.lit(":"),
                F.col(cols[1]).cast("string"),
            )
        g = (
            tables[table]
            .groupBy(k.alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        outs.append(
            g.agg(
                F.lit(entity).alias("entity"),
                F.sum("cnt").alias("n_rows"),
                F.sum(
                    F.when(F.col("k").isNull(), F.col("cnt")).otherwise(0)
                ).alias("n_null_rows"),
                F.count(F.col("k")).alias("n_distinct"),
                F.max(
                    F.when(F.col("k").isNotNull(), F.col("cnt"))
                ).alias("max_mult"),
                F.count(
                    F.when(F.col("k").isNotNull() & (F.col("cnt") > 1), 1)
                ).alias("n_dup_keys"),
            ).select(
                "*",
                (
                    (F.col("n_dup_keys") == 0) & (F.col("n_null_rows") == 0)
                ).alias("unique_ok"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("entity")


def _dq_uniqueness_audit(spark, sf_dir):
    tabs = {
        n: t(spark, sf_dir, n)
        for n in (
            "customer", "documents", "events", "lineitem", "orders",
            "part", "supplier",
        )
    }
    return uniqueness_audit(tabs)


def _uniq_one_sql(entity, table, cols):
    if len(cols) == 1:
        kexpr = f"CAST({cols[0]} AS VARCHAR)"
    else:
        kexpr = (
            f"CAST({cols[0]} AS VARCHAR) || ':' || CAST({cols[1]} AS VARCHAR)"
        )
    return f"""
SELECT '{entity}' AS entity,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN k IS NULL THEN cnt ELSE 0 END) AS BIGINT)
           AS n_null_rows,
       CAST(count(k) AS BIGINT) AS n_distinct,
       max(CASE WHEN k IS NOT NULL THEN cnt END) AS max_mult,
       CAST(count(CASE WHEN k IS NOT NULL AND cnt > 1 THEN 1 END)
            AS BIGINT) AS n_dup_keys,
       (count(CASE WHEN k IS NOT NULL AND cnt > 1 THEN 1 END) = 0
        AND sum(CASE WHEN k IS NULL THEN cnt ELSE 0 END) = 0) AS unique_ok
FROM (SELECT {kexpr} AS k, CAST(count(*) AS BIGINT) AS cnt
      FROM {table} GROUP BY 1) g
"""


_UNIQ_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join(
        "(" + _uniq_one_sql(*u) + ")" for u in _UNIQ_KEYS
    )
    + ") ORDER BY entity"
)

_BENFORD_NANO = (
    (1, 301029996),
    (2, 176091259),
    (3, 124938737),
    (4, 96910013),
    (5, 79181246),
    (6, 66946790),
    (7, 57991947),
    (8, 51152522),
    (9, 45757491),
)


def benford_digits(orders):
    """Benford first-significant-digit screen over order totals: the
    classic fabricated-data / unit-mix detector a DQ pipeline runs on
    monetary columns. Observed digit counts vs the Benford expectation
    (nano-quantized literal constants, so neither engine evaluates a
    log), with the chi-square contribution per digit micro-quantized
    from exact int64 inputs before the 9-term sum (fold-order rule).

    Scale shape: ONE scan collapsing to the 9-digit grain (first digit
    read from the decimal string of the exact cents value — no float
    log10); the expectation join is a 9x9 broadcast of literals and the
    chi-square total is a broadcast 1-row aggregate."""
    digits = orders.select(
        F.substring(cents(F.col("o_totalprice")).cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    exp = F.broadcast(
        orders.sparkSession.createDataFrame(
            list(_BENFORD_NANO), "digit int, p_nano long"
        )
    )
    n_tot = obs.agg(F.sum("n_obs").alias("n_tot"))
    terms = (
        obs.join(exp, "digit")
        .join(F.broadcast(n_tot))
        .select(
            "digit",
            "n_obs",
            (F.col("n_tot") * F.col("p_nano")).alias("exp_nano"),
            F.floor(
                (
                    (F.col("n_obs") * F.lit(1000000000) - F.col("n_tot") * F.col("p_nano"))
                    .cast("double")
                    * (F.col("n_obs") * F.lit(1000000000) - F.col("n_tot") * F.col("p_nano"))
                    .cast("double")
                )
                / (F.col("n_tot") * F.col("p_nano")).cast("double")
                / 1.0e9
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_micro"),
        )
    )
    chi = terms.agg(F.sum("term_micro").alias("chi2_micro"))
    return (
        terms.join(F.broadcast(chi))
        .select("digit", "n_obs", "exp_nano", "term_micro", "chi2_micro")
        .orderBy("digit")
    )


def _dq_benford_digits(spark, sf_dir):
    return benford_digits(t(spark, sf_dir, "orders"))


_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in _BENFORD_NANO)

_BENFORD_SQL = f"""
WITH obs AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1
),
exp(digit, p_nano) AS (VALUES {_BENFORD_VALUES}),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM obs),
terms AS (
  SELECT obs.digit, n_obs,
         CAST(n_tot * p_nano AS BIGINT) AS exp_nano,
         CAST(floor(
           CAST(n_obs * 1000000000 - n_tot * p_nano AS DOUBLE)
           * CAST(n_obs * 1000000000 - n_tot * p_nano AS DOUBLE)
           / CAST(n_tot * p_nano AS DOUBLE) / 1.0e9 * 1000000 + 0.5
         ) AS BIGINT) AS term_micro
  FROM obs JOIN exp ON obs.digit = exp.digit, tot
),
chi AS (SELECT CAST(sum(term_micro) AS BIGINT) AS chi2_micro FROM terms)
SELECT digit, n_obs, exp_nano, term_micro, chi2_micro
FROM terms, chi ORDER BY digit
"""


def profile_drift(events):
    """Snapshot-profile drift audit: split the stream at the integer
    midpoint of its time range (the did_estimator split) and compare,
    per event type, the early vs late halves on volume share, value
    mean, and distinct-user reach — the nightly "did the data change
    shape" report between two ingest windows.

    All drift numbers are exact integer (micro shares, milli-cent
    means); two scans' worth of aggregates at the bounded type grain,
    with the midpoint riding as a broadcast 1-row aggregate."""
    rng = events.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    ).select(F.expr("t0 + (t1 - t0) div 2").alias("mid"))
    lab = events.join(F.broadcast(rng)).select(
        "event_type",
        "user_id",
        cents(F.col("value")).alias("v"),
        (F.unix_micros("ts") < F.col("mid")).alias("early"),
    )
    per = lab.groupBy("event_type", "early").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.count_distinct("user_id").alias("nu"),
    )
    halves = per.groupBy("early").agg(F.sum("n").alias("half_n"))
    wide = (
        per.join(F.broadcast(halves), "early")
        .select(
            "event_type",
            F.when(F.col("early"), F.col("n")).otherwise(0).alias("n_e"),
            F.when(~F.col("early"), F.col("n")).otherwise(0).alias("n_l"),
            F.when(F.col("early"), F.expr("(1000000 * n) div half_n"))
            .otherwise(0).alias("sh_e"),
            F.when(~F.col("early"), F.expr("(1000000 * n) div half_n"))
            .otherwise(0).alias("sh_l"),
            F.when(F.col("early"), F.expr("(10 * sv) div n"))
            .otherwise(0).alias("m_e"),
            F.when(~F.col("early"), F.expr("(10 * sv) div n"))
            .otherwise(0).alias("m_l"),
            F.when(F.col("early"), F.col("nu")).otherwise(0).alias("u_e"),
            F.when(~F.col("early"), F.col("nu")).otherwise(0).alias("u_l"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n_e").alias("n_early"),
            F.sum("n_l").alias("n_late"),
            F.sum("sh_e").alias("share_early_micro"),
            F.sum("sh_l").alias("share_late_micro"),
            F.sum("m_e").alias("mean_early_millicent"),
            F.sum("m_l").alias("mean_late_millicent"),
            F.sum("u_e").alias("users_early"),
            F.sum("u_l").alias("users_late"),
        )
    )
    return wide.select(
        "*",
        (
            F.col("share_late_micro") - F.col("share_early_micro")
        ).alias("share_drift_micro"),
    ).orderBy("event_type")


def _dq_profile_drift(spark, sf_dir):
    return profile_drift(t(spark, sf_dir, "events"))


_DRIFT_SQL = """
WITH rng AS (
  SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2
             AS mid
  FROM events
),
lab AS (
  SELECT event_type, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         epoch_us(ts) < mid AS early
  FROM events, rng
),
per AS (
  SELECT event_type, early, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(count(DISTINCT user_id) AS BIGINT) AS nu
  FROM lab GROUP BY 1, 2
),
halves AS (SELECT early, CAST(sum(n) AS BIGINT) AS half_n FROM per GROUP BY 1),
wide AS (
  SELECT event_type,
         CAST(sum(CASE WHEN early THEN n ELSE 0 END) AS BIGINT) AS n_early,
         CAST(sum(CASE WHEN NOT early THEN n ELSE 0 END) AS BIGINT) AS n_late,
         CAST(sum(CASE WHEN early THEN (1000000 * n) // half_n ELSE 0 END)
              AS BIGINT) AS share_early_micro,
         CAST(sum(CASE WHEN NOT early THEN (1000000 * n) // half_n ELSE 0 END)
              AS BIGINT) AS share_late_micro,
         CAST(sum(CASE WHEN early THEN (10 * sv) // n ELSE 0 END)
              AS BIGINT) AS mean_early_millicent,
         CAST(sum(CASE WHEN NOT early THEN (10 * sv) // n ELSE 0 END)
              AS BIGINT) AS mean_late_millicent,
         CAST(sum(CASE WHEN early THEN nu ELSE 0 END) AS BIGINT)
             AS users_early,
         CAST(sum(CASE WHEN NOT early THEN nu ELSE 0 END) AS BIGINT)
             AS users_late
  FROM per JOIN halves USING (early)
  GROUP BY event_type
)
SELECT *, share_late_micro - share_early_micro AS share_drift_micro
FROM wide ORDER BY event_type
"""


def cdc_apply(customer, events):
    """CDC log replay (Debezium full-image semantics): the event stream
    is an ordered change log over the customer dimension — signup/
    purchase rows are UPSERTs carrying a new balance, error rows are
    DELETEs — and only each key's LAST operation (by ts, then event_id)
    matters. Reports the replay digest: inserts vs updates vs deletes
    vs no-ops, final row count, and the final balance checksum.

    This is the ordered-log counterpart of merge_upsert (one unordered
    batch) and scd2_merge (history-keeping): last-op election is ONE
    max(struct) aggregate at the key grain, the apply is ONE full-outer
    key-grain join, and the digest one aggregate row — three shuffles
    total, none at the fact grain after the election."""
    lastop = (
        events.where(
            F.col("event_type").isin("signup", "purchase", "error")
        )
        .select(
            F.col("user_id").alias("k"),
            F.struct(
                F.unix_micros("ts").alias("ts_us"),
                F.col("event_id").alias("eid"),
                F.when(F.col("event_type") == "error", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                cents(F.col("value")).alias("new_bal"),
            ).alias("s"),
        )
        .groupBy("k")
        .agg(F.max("s").alias("m"))
        .select("k", F.col("m.op").alias("op"), F.col("m.new_bal").alias("new_bal"))
    )
    base = customer.select(
        F.col("c_custkey").alias("k"),
        cents(F.col("c_acctbal")).alias("bal"),
    )
    j = base.join(lastop, "k", "full_outer")
    return j.agg(
        F.count(F.col("bal")).alias("n_base"),
        F.count(F.col("op")).alias("n_log_keys"),
        F.count(
            F.when(F.col("bal").isNull() & (F.col("op") == "U"), 1)
        ).alias("n_inserted"),
        F.count(
            F.when(F.col("bal").isNotNull() & (F.col("op") == "U"), 1)
        ).alias("n_updated"),
        F.count(
            F.when(F.col("bal").isNotNull() & (F.col("op") == "D"), 1)
        ).alias("n_deleted"),
        F.count(
            F.when(F.col("bal").isNull() & (F.col("op") == "D"), 1)
        ).alias("n_delete_noop"),
        F.count(
            F.when(F.col("bal").isNotNull() & F.col("op").isNull(), 1)
        ).alias("n_unchanged"),
        F.sum(
            F.when(F.col("op") == "U", F.col("new_bal")).when(
                F.col("op").isNull(), F.col("bal")
            )
        ).alias("final_balance_cents"),
        (
            F.count(F.when(F.col("op") == "U", 1))
            + F.count(F.when(F.col("bal").isNotNull() & F.col("op").isNull(), 1))
        ).alias("final_count"),
    )


def _warehouse_cdc_apply(spark, sf_dir):
    return cdc_apply(t(spark, sf_dir, "customer"), t(spark, sf_dir, "events"))


_CDC_SQL = """
WITH lg AS (
  SELECT user_id AS k,
         epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS new_bal
  FROM events WHERE event_type IN ('signup', 'purchase', 'error')
),
mx AS (
  SELECT k, max(struct_pack(ts_us := ts_us, event_id := event_id,
                            op := op, new_bal := new_bal)) AS m
  FROM lg GROUP BY k
),
lastop AS (
  SELECT k, m['op'] AS op, m['new_bal'] AS new_bal FROM mx
),
base AS (
  SELECT c_custkey AS k,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
  FROM customer
),
j AS (
  SELECT base.k AS bk, lastop.k AS lk, bal, op, new_bal
  FROM base FULL OUTER JOIN lastop ON base.k = lastop.k
)
SELECT CAST(count(bal) AS BIGINT) AS n_base,
       CAST(count(op) AS BIGINT) AS n_log_keys,
       CAST(count(CASE WHEN bal IS NULL AND op = 'U' THEN 1 END) AS BIGINT)
           AS n_inserted,
       CAST(count(CASE WHEN bal IS NOT NULL AND op = 'U' THEN 1 END)
            AS BIGINT) AS n_updated,
       CAST(count(CASE WHEN bal IS NOT NULL AND op = 'D' THEN 1 END)
            AS BIGINT) AS n_deleted,
       CAST(count(CASE WHEN bal IS NULL AND op = 'D' THEN 1 END) AS BIGINT)
           AS n_delete_noop,
       CAST(count(CASE WHEN bal IS NOT NULL AND op IS NULL THEN 1 END)
            AS BIGINT) AS n_unchanged,
       CAST(sum(CASE WHEN op = 'U' THEN new_bal
                     WHEN op IS NULL THEN bal END) AS BIGINT)
           AS final_balance_cents,
       CAST(count(CASE WHEN op = 'U' THEN 1 END)
            + count(CASE WHEN bal IS NOT NULL AND op IS NULL THEN 1 END)
            AS BIGINT) AS final_count
FROM j
"""


def partition_advisor(events):
    """Partition-layout advisor: evaluate the candidate partition keys
    a warehouse actually argues about (day, event_type, user-hash
    bucket, day x type) on partition count, max-partition skew, and
    mean rows per partition — the physical-layout decision as a query.

    Each candidate is one partial-aggregated groupBy at its key grain
    collapsed to a 1-row verdict; four candidates union into the
    4-row report. Skew and means are integer micro/floor divisions."""

    def verdict(label, keyed):
        per = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.lit(label).alias("candidate"),
            F.count(F.lit(1)).alias("n_partitions"),
            F.max("n").alias("max_rows"),
            F.sum("n").alias("n_rows"),
        ).select(
            "candidate",
            "n_partitions",
            "max_rows",
            F.expr("n_rows div n_partitions").alias("mean_rows"),
            F.expr("(1000000 * max_rows) div n_rows").alias("skew_micro"),
        )

    day = events.select(F.expr("CAST(ts AS DATE)").cast("string").alias("k"))
    typ = events.select(F.col("event_type").alias("k"))
    ub = events.select((F.col("user_id") % 64).cast("string").alias("k"))
    daytyp = events.select(
        F.concat(
            F.expr("CAST(ts AS DATE)").cast("string"),
            F.lit("|"),
            F.col("event_type"),
        ).alias("k")
    )
    out = (
        verdict("day", day)
        .unionAll(verdict("day_x_type", daytyp))
        .unionAll(verdict("event_type", typ))
        .unionAll(verdict("user_bucket_64", ub))
    )
    return out.orderBy("candidate")


def _layout_partition_advisor(spark, sf_dir):
    return partition_advisor(t(spark, sf_dir, "events"))


def _advisor_one_sql(label, kexpr):
    return f"""
SELECT '{label}' AS candidate,
       CAST(count(*) AS BIGINT) AS n_partitions,
       CAST(max(n) AS BIGINT) AS max_rows,
       CAST(sum(n) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_rows,
       (1000000 * CAST(max(n) AS BIGINT)) // CAST(sum(n) AS BIGINT)
           AS skew_micro
FROM (SELECT {kexpr} AS k, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1)
"""


_ADVISOR_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join(
        "(" + _advisor_one_sql(lbl, kx) + ")"
        for lbl, kx in (
            ("day", "CAST(CAST(ts AS DATE) AS VARCHAR)"),
            (
                "day_x_type",
                "CAST(CAST(ts AS DATE) AS VARCHAR) || '|' || event_type",
            ),
            ("event_type", "event_type"),
            ("user_bucket_64", "CAST(user_id % 64 AS VARCHAR)"),
        )
    )
    + ") ORDER BY candidate"
)

_RT_AGG_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(('0x' || substr(md5(
           CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31) || lang
           || chr(31) || source || chr(31) || CAST(n_chars AS VARCHAR)
       ), 1, 8))::BIGINT) AS BIGINT) AS checksum
FROM {src} GROUP BY source ORDER BY source
"""


# --------------------------------------- JSONL / CSV SINK-SCAN PARITY

_DOCS_SCHEMA = ST.StructType(
    [
        ST.StructField("doc_id", ST.LongType()),
        ST.StructField("text", ST.StringType()),
        ST.StructField("lang", ST.StringType()),
        ST.StructField("source", ST.StringType()),
        ST.StructField("n_chars", ST.LongType()),
    ]
)


def _roundtrip_dir(fmt: str, sf_dir: str) -> str:
    """Sink dir for the roundtrip keys, keyed by BOTH pid and the sf
    fixture name: the returned DataFrame is lazy (the driver collects
    it later), so cross-SF runs in one process must not overwrite each
    other's sink before the slower one is consumed. Dirs left by dead
    processes are reaped opportunistically (registry_util)."""
    _reap_stale_tmp()
    return os.path.join(
        tempfile.gettempdir(),
        f"fdis_{fmt}_roundtrip_{os.getpid()}_"
        f"{os.path.basename(os.path.normpath(sf_dir))}",
    )


def _roundtrip_agg(df):
    """Per-source audit: row count, char mass, and an md5 content
    checksum over every column — any byte the format layer mangles
    moves the checksum."""
    chk = token_hash(
        F.concat_ws(
            "\x1f",
            F.col("doc_id").cast("string"),
            F.col("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars").cast("string"),
        )
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(chk).alias("checksum"),
    )


def _source_jsonl_roundtrip(spark, sf_dir):
    """S4/S5 for the JSONL interchange format: documents → JSON-lines
    sink → schema'd scan-back → per-source checksum audit, which must
    equal the direct aggregate (the oracle computes it straight off the
    parquet). Proves unicode/controls survive JSON escaping both ways.

    100 TB: the sink is a plain distributed write (one file per task,
    no driver involvement) and the scan-back is schema'd (no sampling
    inference pass); checksums are the same partial-aggregated groupBy
    as every audit key."""
    docs = t(spark, sf_dir, "documents")
    out_dir = _roundtrip_dir("jsonl", sf_dir)
    docs.write.mode("overwrite").json(out_dir)
    back = spark.read.schema(_DOCS_SCHEMA).json(out_dir)
    return _roundtrip_agg(back)


def _source_csv_roundtrip(spark, sf_dir):
    """S4/S5 for CSV: the text column is first salted with the three
    characters that make CSV hard (quote, comma, newline) so the
    quoting/escaping path genuinely executes, then sink → multiLine
    scan-back → checksum audit against the oracle computing the same
    salted aggregate directly."""
    docs = t(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit('|"x",\ny'))
    )
    out_dir = _roundtrip_dir("csv", sf_dir)
    (
        docs.write.mode("overwrite")
        .options(header=True, quote='"', escape='"')
        .csv(out_dir)
    )
    back = spark.read.schema(_DOCS_SCHEMA).options(
        header=True, quote='"', escape='"', multiLine=True
    ).csv(out_dir)
    return _roundtrip_agg(back)


_CSV_SALT_SQL = (
    "(SELECT doc_id, text || '|' || chr(34) || 'x' || chr(34) || ','"
    " || chr(10) || 'y' AS text, lang, source, n_chars FROM documents)"
)


def _source_orc_roundtrip(spark, sf_dir):
    """S4/S5 for ORC — the third columnar container Spark ships native
    readers for. Same checksum audit as the JSONL/CSV keys: sink →
    schema'd scan-back must be byte-identical to the parquet source
    (the oracle aggregates the parquet directly)."""
    docs = t(spark, sf_dir, "documents")
    out_dir = _roundtrip_dir("orc", sf_dir)
    docs.write.mode("overwrite").orc(out_dir)
    back = spark.read.schema(_DOCS_SCHEMA).orc(out_dir)
    return _roundtrip_agg(back)


WAREHOUSE_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
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
        QueryDef("scd2_merge", _scd2_merge, _SCD2_SQL),
        QueryDef("files_compaction_plan", _files_compaction_plan, _COMPACTION_SQL),
        QueryDef("zorder_locality", _zorder_locality, _ZORDER_SQL),
        QueryDef("dq_audit_lineitem", _dq_audit_lineitem, _DQ_AUDIT_SQL),
        QueryDef("merge_upsert", _merge_upsert, _MERGE_SQL),
        QueryDef("table_diff_snapshot", _table_diff_snapshot, _DIFF_SQL),
        QueryDef("ivm_join_delta", _ivm_join_delta, _IVM_SQL),
        QueryDef("layout_zonemap_overlap", _layout_zonemap_overlap, _ZONEMAP_SQL),
        QueryDef("table_bloom_prune_audit", _table_bloom_prune_audit, _BF_SQL),
        QueryDef("table_ndv_mincount", _table_ndv_mincount, _NDV_SQL),
        QueryDef("dq_freshness_audit", _dq_freshness_audit, _FRESH_SQL),
        QueryDef("dq_referential_integrity", _dq_referential_integrity, _RI_SQL),
        QueryDef("dq_uniqueness_audit", _dq_uniqueness_audit, _UNIQ_SQL),
        QueryDef("dq_benford_digits", _dq_benford_digits, _BENFORD_SQL),
        QueryDef("dq_profile_drift", _dq_profile_drift, _DRIFT_SQL),
        QueryDef("warehouse_cdc_apply", _warehouse_cdc_apply, _CDC_SQL),
        QueryDef("layout_partition_advisor", _layout_partition_advisor, _ADVISOR_SQL),
        QueryDef(
            "source_jsonl_roundtrip",
            _source_jsonl_roundtrip,
            _RT_AGG_SQL.format(src="documents"),
        ),
        QueryDef(
            "source_csv_roundtrip",
            _source_csv_roundtrip,
            _RT_AGG_SQL.format(src=_CSV_SALT_SQL),
        ),
        QueryDef(
            "source_orc_roundtrip",
            _source_orc_roundtrip,
            _RT_AGG_SQL.format(src="documents"),
        ),
    )
}
