"""Scale techniques (100 TB playbook): salted joins for skew,
bucketed tables for shuffle-free co-located joins.

These are the two levers AQE does not fully own:

- **Salting**: AQE's skew-join splitting handles sort-merge skew, but a
  *broadcast-infeasible* dimension with a hot key (one user owning 10%
  of events) still funnels that key through one reducer. Salting
  rewrites the join so the hot side's key becomes (key, salt) and the
  small side is replicated salt-ways — the hot key fans out across
  ``salt_n`` reducers. Result rows are identical to the plain join.

- **Bucketing**: two fact tables bucketed by the same key into the same
  bucket count join with ZERO exchange on either side — at 100 TB the
  shuffle of a fact-fact join is usually the single largest cost in the
  pipeline, and bucketing amortizes it once at write time. Verified by
  plan assertion (no Exchange above the scans) in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def spread(df: DataFrame, *cols) -> DataFrame:
    """Repartition ``df`` to one partition per default-parallelism slot
    (hashed on ``cols``, round-robin without them) so CPU-heavy per-row
    work after it runs on every core even when the scan arrives in few
    splits. The explicit count keeps AQE from coalescing the tiny
    shuffle back to one partition. ``plans.normalize_plan`` masks this
    width, so plan fingerprints do not depend on the core count."""
    return df.repartition(max(df.sparkSession.sparkContext.defaultParallelism, 1), *cols)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` NOW (eager ``localCheckpoint``) and return a
    DataFrame whose plan starts at the stored result — the engine's
    standard duplicate-subtree eliminator, centralised here so the
    tradeoff is documented ONCE (ADVICE r11) instead of per call site.

    When to use (the §27 dominance bound, SCALING.md): the truncated
    table must be a strictly REDUCED grain (bounded, or far smaller
    than its inputs) that is consumed ≥2 times — then one
    materialization replaces N re-derivations of the whole upstream
    lineage, which is where plans like theil_sen's 4,799-line /
    164-scan explosion come from. When the grain is fact-sized the
    materialization costs what it saves — measure, and leave it out
    (the r11 affinity_lift_topk / theil_sen slope-grain reverts).

    Costs accepted by every caller:

    - EAGER: constructing (or explaining) the query runs Spark jobs up
      to this point — plan-shape tests must clear caches accordingly.
    - NON-RELIABLE storage: blocks live on local executors; on a real
      cluster an executor loss fails the query instead of recomputing
      (acceptable for interactive/batch analytics, NOT for
      multi-hour pipelines — those should checkpoint() to reliable
      storage instead).
    """
    return df.localCheckpoint()


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_n: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: ``big`` (skewed) × ``small`` (too large
    to broadcast, too small to matter ``salt_n``-replicated).

    big gains a random salt in [0, salt_n); small is exploded to every
    salt value; the join key becomes (key, salt). For ``inner``/``left``
    row multiplicity is unchanged: each big row matches exactly the same
    small rows as an unsalted join, because every (key, salt) slice of
    small carries the full key's rows. ``right``/``full`` are NOT
    equivalent — an unmatched small-side row appears once per salt
    replica — so they are rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: the "
            "salt_n-replicated small side would emit unmatched rows once "
            "per replica under right/full outer joins"
        )
    salted_big = big.withColumn(
        "__salt", (F.rand(seed=42) * salt_n).cast("int")
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    out = salted_big.join(
        salted_small,
        (salted_big[big_key] == salted_small[small_key])
        & (salted_big["__salt"] == salted_small["__salt"]),
        how,
    )
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Land a table bucketed (and optionally sorted) by the join key.

    Bucket count must match across co-joined tables; at 100 TB pick
    n_buckets ≈ total-cores so one bucket ≈ one task. Requires a
    warehouse-backed saveAsTable (bucket metadata lives in the catalog,
    not the files).
    """
    spark = df.sparkSession
    # idempotent across sessions: with the default in-memory catalog a
    # new session forgets the table but its warehouse directory
    # survives, and saveAsTable then fails with LOCATION_ALREADY_EXISTS
    # — drop the catalog entry AND any orphaned location first
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    jvm = spark._jvm
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/" + table.lower())
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def exact_quantiles(
    df, group_col: str, value_col: str, qs: Sequence[float]
) -> "DataFrame":
    """Exact linear-interpolation quantiles per group WITHOUT buffering
    per-group arrays (the built-in ``percentile()`` is an
    ObjectHashAggregate that holds every group's values in executor
    memory — fine at test SF, an OOM at 100 TB with heavy groups).

    One shuffle to rank, then for each requested q pick the two
    neighbor ranks around ``q*(n-1)`` and interpolate — identical
    values to ``quantile_cont``.

    Ranking is RANGE-BUCKETED, not a bare per-group window: a window
    partitioned only by the group funnels a whale group through one
    reducer (with few groups — returnflag has 3 — the whole fact sorts
    into 3 tasks). Instead each row buckets by value position within
    its group's [min, max] span; ranks compose from per-(group, bucket)
    windows plus exclusive prefix counts over the tiny (group × 256)
    count table — the same shape as :func:`distributed_rank`, ~256×
    the sort parallelism per group, exact for ties because bucketing
    is monotone in the value. Output: group_col, q, quantile.
    """
    import operator
    from functools import reduce

    B = 256
    stats = df.groupBy(group_col).agg(
        F.min(value_col).alias("_mn"),
        F.max(value_col).alias("_mx"),
        F.count(F.lit(1)).alias("n"),
    )
    # the |groups|-row stats table (bounded: one row per group at any
    # data volume) is broadcast-joined into BOTH fact passes (bucketed
    # staging and the rank pass); truncating its lineage here stops each
    # pass from re-running the full min/max/count scan of ``df`` — the
    # fact is read twice (algorithmic floor: counts pass + rank pass),
    # not four times (measured r11: 4 lineitem scans → 2)
    stats = truncate_lineage(stats)
    staged = df.select(group_col, F.col(value_col).alias("v")).join(
        F.broadcast(stats), group_col
    )
    span = F.col("_mx") - F.col("_mn")
    staged = staged.withColumn(
        "_bkt",
        F.when(span <= 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("v") - F.col("_mn")) / (span / B)),
                F.lit(B - 1),
            )
        )
        .cast("int"),
    )
    counts = staged.groupBy(group_col, "_bkt").agg(F.count(F.lit(1)).alias("_bn"))
    b_long = F.col("_bkt").cast("long")
    higher = F.when(
        b_long + 1 <= B - 1, F.sequence(b_long + 1, F.lit(B - 1).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    prefix = (
        counts.select(group_col, F.explode(higher).alias("_tgt"), "_bn")
        .groupBy(group_col, F.col("_tgt").cast("int").alias("_bkt"))
        .agg(F.sum("_bn").alias("_below"))
    )
    wb = Window.partitionBy(group_col, "_bkt").orderBy("v")
    ranked = (
        staged.join(F.broadcast(prefix), [group_col, "_bkt"], "left")
        .withColumn(
            "rn",
            (
                F.coalesce(F.col("_below"), F.lit(0))
                + F.row_number().over(wb)
                - 1
            ).cast("long"),
        )
        .select(group_col, "v", "rn", "n")
    )
    # single pass: keep any row that is a lo/hi neighbor of ANY q, pull
    # all neighbor values into one aggregate row per group, interpolate
    # with the SAME expression shape engines use for quantile_cont
    # (v_lo + (v_hi - v_lo)*frac) — an algebraically-equal weighted sum
    # can differ in the last ulp and flip a rounding tie
    conds, aggs = [], []
    for i, q in enumerate(qs):
        idx = F.lit(q) * (F.col("n") - 1)
        lo, hi = F.floor(idx), F.ceil(idx)
        conds.append((F.col("rn") == lo) | (F.col("rn") == hi))
        aggs += [
            F.min(F.when(F.col("rn") == lo, F.col("v"))).alias(f"vlo{i}"),
            F.min(F.when(F.col("rn") == hi, F.col("v"))).alias(f"vhi{i}"),
            F.min(idx - lo).alias(f"fr{i}"),
        ]
    picked = ranked.filter(reduce(operator.or_, conds)).groupBy(group_col).agg(*aggs)
    per_q = [
        F.struct(
            F.lit(q).alias("q"),
            (
                F.col(f"vlo{i}")
                + (F.col(f"vhi{i}") - F.col(f"vlo{i}")) * F.col(f"fr{i}")
            ).alias("quantile"),
        )
        for i, q in enumerate(qs)
    ]
    return picked.select(
        group_col, F.explode(F.array(*per_q)).alias("s")
    ).select(group_col, "s.q", "s.quantile")


def ranked_topk(
    df: DataFrame,
    order: Sequence[tuple[str, str]],
    n: int,
    rank_name: str = "rnk",
    ties: bool = False,
    n_rank_keys: int | None = None,
) -> DataFrame:
    """Global top-``n`` with an explicit rank column and NO ranking
    window — not even over the bounded survivors.

    ``orderBy().limit(n)`` compiles to a distributed
    ``TakeOrderedAndProject`` (each task keeps its local top-n, the
    driver merges — never a full single-partition sort, the round-1
    anti-pattern). The rank is then derived from the <=n survivors with
    an aggregate: collect the rows into one sort-encoded array,
    ``array_sort``, ``posexplode`` — position+1 IS row_number, and
    ``array_position`` of the first equal key vector IS the
    tie-preserving rank(). A partition-less ``WindowExec`` (which logs
    a single-partition warning and, if ever handed unbounded input,
    becomes a scale cliff) never appears in the plan.

    ``order`` is ``[(col, "asc"|"desc"), ...]``; ``desc`` columns must
    be numeric non-null (encoded by negation so one ascending
    ``array_sort`` honors the mixed directions). With ``ties``,
    ``n_rank_keys`` limits the rank() key to the first k order columns
    so trailing columns stay pure tiebreaks for WHICH n rows survive
    (e.g. rank by revenue alone, break limit-ties by key). The
    aggregate holds only the n survivors — driver/executor memory is
    O(n), independent of |df|.
    """
    sort_cols = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order
    ]
    top = df.orderBy(*sort_cols).limit(n)
    keys = [
        ((-F.col(c)) if d == "desc" else F.col(c)).alias(f"_k{i}")
        for i, (c, d) in enumerate(order)
    ]
    payload = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    xs = top.agg(F.array_sort(F.collect_list(F.struct(*keys, payload))).alias("_xs"))
    exploded = xs.select("_xs", F.posexplode("_xs").alias("_pos", "_s"))
    if ties:
        nk = len(order) if n_rank_keys is None else n_rank_keys
        key_of = lambda x: F.struct(  # noqa: E731
            *[x[f"_k{i}"].alias(f"_k{i}") for i in range(nk)]
        )
        rank = F.array_position(
            F.transform(F.col("_xs"), key_of), key_of(F.col("_s"))
        ).cast("int")
    else:
        rank = (F.col("_pos") + 1).cast("int")
    return exploded.select(rank.alias(rank_name), "_s._row.*")


def grouped_topk(
    df: DataFrame,
    group: str,
    order: Sequence[tuple[str, str]],
    k: int,
    salt_n: int = DEFAULT_SALT,
) -> DataFrame:
    """Exact per-group top-``k`` without a whale-group scale cliff.

    The naive ``row_number() OVER (PARTITION BY group)`` funnels every
    row of a hot group through one reducer — at 100 TB a whale domain
    (one web host owning 10% of the corpus) is a guaranteed straggler.
    Two-level refinement keeps it exact AND bounded:

    1. rank within ``(group, salt)`` where salt = hash(all order cols)
       mod ``salt_n`` — each reducer sees ~1/salt_n of the whale — and
       keep the per-salt local top-k;
    2. rank the <= ``salt_n * k`` survivors per group (constant-bounded
       partition) and keep the global top-k.

    Any row in the true top-k is in its salt-bucket's top-k, so stage 2
    sees every candidate — the result is identical to the naive window
    for any salt assignment. ``order`` is ``[(col, "asc"|"desc"), ...]``.
    """
    sort_cols = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order
    ]
    salt = F.pmod(F.hash(*[F.col(c) for c, _ in order]), F.lit(salt_n))
    w1 = Window.partitionBy(F.col(group), salt).orderBy(*sort_cols)
    local = (
        df.withColumn("_lrn", F.row_number().over(w1))
        .filter(F.col("_lrn") <= k)
        .drop("_lrn")
    )
    w2 = Window.partitionBy(group).orderBy(*sort_cols)
    return (
        local.withColumn("_grn", F.row_number().over(w2))
        .filter(F.col("_grn") <= k)
        .drop("_grn")
    )


def distributed_rank(
    df: DataFrame,
    order: Sequence[tuple[str, str]],
    bucket_col: str,
    n_buckets: int = 256,
    rank_name: str = "rnk",
) -> DataFrame:
    """Exact GLOBAL 1-based row_number over ``order`` with no
    partition-less window (the single-reducer scale cliff).

    Range-partitioned ranking: ``bucket_col`` must be an integer column
    in ``[0, n_buckets)`` MONOTONE in the ranking order (ascending
    bucket => earlier rank) — the caller derives it from the leading
    order key (e.g. negated revenue cents div width). Then

    1. per-bucket row counts (one partial-agg shuffle, <= ``n_buckets``
       rows),
    2. exclusive prefix counts: each bucket's count explodes to every
       HIGHER bucket id and re-aggregates — O(n_buckets²) tiny rows,
       pure equi-shapes, so no window and no nested-loop join appears,
    3. within-bucket ``row_number`` partitioned BY BUCKET — partitions
       are 1/n_buckets of the data, never the whole set;
    global rank = prefix + local rank. Bit-identical to
    ``row_number() OVER (ORDER BY ...)`` because the bucket key is
    monotone in the same order.
    """
    sort_cols = [
        F.col(c).desc() if d == "desc" else F.col(c).asc() for c, d in order
    ]
    counts = df.groupBy(F.col(bucket_col).alias("_b")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    b_long = F.col("_b").cast("long")
    higher = F.when(
        b_long + 1 <= n_buckets - 1,
        F.sequence(b_long + 1, F.lit(n_buckets - 1).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    lower = (
        counts.select(F.explode(higher).alias("_tgt"), "_n")
        .groupBy(F.col("_tgt").alias("_b"))
        .agg(F.sum("_n").alias("_below"))
    )
    w = Window.partitionBy(bucket_col).orderBy(*sort_cols)
    return (
        df.withColumn("_lrn", F.row_number().over(w))
        .join(F.broadcast(lower), F.col(bucket_col) == F.col("_b"), "left")
        .withColumn(
            rank_name,
            (F.coalesce(F.col("_below"), F.lit(0)) + F.col("_lrn")).cast("long"),
        )
        .drop("_b", "_n", "_below", "_lrn")
    )
