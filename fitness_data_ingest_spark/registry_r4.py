"""Round-4 additions: Spark 4 SQL pipe syntax, linear time-series
interpolation, integer-exact higher moments, and the MinHash
sketch-accuracy audit.

Reference parity note: the reference repo (pandas/requests ETL) has
none of these surfaces; they extend the engine along the
training-data-pipeline axis (SURVEY.md §2 extensions) and the Spark-4
SQL surface (pipe operators shipped in Spark 4.0).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ext import dedup as D
from .ops import timeseries as TS
from .registry_ext import _SQL_DOC_SHINGLES, _sql_sig_cols
from .registry_util import (
    QueryDef,
    shared_minhash_cand_stats,
    shared_minhash_clusters,
    spread,
    t,
)

# Synthesized activity-interval length (and overlap-join bucket width),
# shared by the interval-overlap join and the peak-concurrency sweep.
OVERLAP_SPAN_S = 1200

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

# ------------------------------------------- MINHASH ESTIMATE VS EXACT


def _dedup_minhash_jaccard_est(spark, sf_dir):
    return D.estimate_vs_exact_from_pair_stats(
        shared_minhash_cand_stats(spark, sf_dir)
    )


def _minhash_est_sql() -> str:
    from .registry_ext import _sql_band_rows

    agree = " + ".join(
        f"CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END" for i in range(D.MINHASH_K)
    )
    return f"""
WITH {_SQL_DOC_SHINGLES},
sig AS (SELECT doc_id, {_sql_sig_cols()} FROM sh
        WHERE len(list_filter(shd, h -> h IS NOT NULL)) > 0),
bands AS ({_sql_band_rows()}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id),
p AS (
  SELECT doc_a, doc_b,
         CAST(({agree}) AS DOUBLE) / {D.MINHASH_K} AS est,
         len(list_intersect(sa.shd, sb.shd))::DOUBLE
           / (len(sa.shd) + len(sb.shd) - len(list_intersect(sa.shd, sb.shd)))
           AS j
  FROM cand JOIN sig x ON x.doc_id = cand.doc_a
            JOIN sig y ON y.doc_id = cand.doc_b
            JOIN sh sa ON sa.doc_id = cand.doc_a
            JOIN sh sb ON sb.doc_id = cand.doc_b)
SELECT doc_a, doc_b,
       floor(est * 10000 + 0.5) / 10000.0 AS est4,
       floor(j * 10000 + 0.5) / 10000.0 AS jacc4,
       floor(abs(est - j) * 10000 + 0.5) / 10000.0 AS err4
FROM p
"""


# -------------------------------------------- GRAM POWER ITERATION

POWER_ITERS = 6
POWER_UNIT = 1_000_000
POWER_SCALE = 1_000


def _embed_power_iteration(spark, sf_dir):
    """Dominant eigenvector of the embedding Gram matrix by unrolled
    integer power iteration — the first principal direction of the
    corpus embedding cloud (the PCA-lite drift/structure probe), with
    every arithmetic step exact int64 so the oracle hash cannot flip.

    Scale shape: components quantize to 1e-3 integers; the Gram build
    is SHUFFLE-FREE until its 4096-group aggregate (r8): each vector's
    outer product materializes row-locally by exploding the quantized
    array twice (i then j — the row only ever meets itself, so the
    former self-equi-join on vec_id was shuffling both copies of the
    exploded table for a per-row pairing a Generate gives in place),
    then map-side combine collapses to the fixed 64×64 = 4096-row
    table no matter how many vectors stream through. The 6 iterations
    run on that FIXED-size table — metadata at any corpus size — so
    (r11) the whole recurrence collapses into ONE row and ONE fold
    expression: the Gram matrix packs as 64 sorted (j-index, g)
    adjacency arrays, and ``aggregate(sequence(1, 6), x0, step)``
    carries the x vector as the fold accumulator (a bound lambda
    variable, so each step is materialized exactly once — the old
    unrolled join form paid a broadcast build + shuffle + eager
    localCheckpoint per iteration, ~2 s of pure job overhead for
    4096-row arithmetic). Renormalization divides |y| by
    (max|y| div 1e6) with the sign split out explicitly: both operands
    are then non-negative, where Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree; integer sums commute, so the
    sorted-array fold reproduces the old groupBy sums bit-exactly."""
    emb = t(spark, sf_dir, "embeddings")
    s = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * POWER_SCALE + 0.5).cast("long"),
    )
    flat = emb.select(s.alias("sv")).select(
        "sv", F.posexplode("sv").alias("i", "si")
    )
    gram = (
        flat.select("i", "si", F.posexplode("sv").alias("j", "sj"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("si") * F.col("sj")).alias("g"))
    )
    rows = gram.groupBy("i").agg(
        F.sort_array(F.collect_list(F.struct("j", "g"))).alias("ent")
    )
    packed = rows.agg(
        F.sort_array(F.collect_set("i")).alias("dims"),
        F.sort_array(F.collect_list(F.struct("i", "ent"))).alias("gm"),
    )
    # pre-resolve each entry's j to its x-vector index once; a j absent
    # from dims (impossible for a full Gram, but the old inner join
    # dropped such terms) contributes 0
    packed = packed.withColumn(
        "gm",
        F.expr(
            "transform(gm, r -> struct(r.i AS i,"
            " transform(r.ent, e -> struct("
            "cast(array_position(dims, e.j) AS int) AS ji, e.g AS g))"
            " AS ent))"
        ),
    )
    renorm = (
        f"transform(y, v -> if(v >= 0,"
        f" abs(v) div greatest(mx div {POWER_UNIT}, cast(1 AS bigint)),"
        f" -(abs(v) div greatest(mx div {POWER_UNIT}, cast(1 AS bigint)))))"
    )
    # bind y (the matrix-vector product) and mx (its max magnitude)
    # once per step via single-element transform wrappers
    step = (
        "element_at(transform(array("
        " transform(gm, r -> aggregate(r.ent, cast(0 AS bigint),"
        "  (acc, e) -> acc + if(e.ji > 0, e.g * element_at(x, e.ji),"
        "  cast(0 AS bigint))))"
        "), y -> element_at(transform(array("
        " greatest(array_max(transform(y, v -> abs(v))), cast(1 AS bigint))"
        f"), mx -> {renorm}), 1)), 1)"
    )
    packed = packed.withColumn(
        "x",
        F.expr(
            f"aggregate(sequence(1, {POWER_ITERS}),"
            f" transform(dims, d -> cast({POWER_UNIT} AS bigint)),"
            f" (x, k) -> {step})"
        ),
    )
    return packed.select(
        F.posexplode(F.arrays_zip("dims", "x")).alias("_p", "z")
    ).select(F.col("z.dims").alias("dim"), F.col("z.x").alias("eig_micro"))


def _power_sql() -> str:
    flat = (
        "flat AS (SELECT vec_id, (u.p).i AS i, (u.p).s AS si FROM embeddings,"
        " LATERAL unnest(list_transform(range(1, len(embedding) + 1),"
        " k -> {'i': k - 1, 's': CAST(floor(embedding[k]::DOUBLE * "
        f"{POWER_SCALE} + 0.5) AS BIGINT)}})) AS u(p))"
    )
    parts = [
        "WITH " + flat + ",",
        "gram AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.si * b.si) AS BIGINT)"
        " AS g FROM flat a JOIN flat b ON a.vec_id = b.vec_id"
        " GROUP BY a.i, b.i),",
        "dims AS (SELECT DISTINCT i AS dim FROM flat),",
        f"x0 AS (SELECT dim, CAST({POWER_UNIT} AS BIGINT) AS x FROM dims)",
    ]
    for k in range(POWER_ITERS):
        parts.append(
            f", y{k} AS (SELECT g.i AS dim, CAST(SUM(g.g * x.x) AS BIGINT) AS y"
            f" FROM gram g JOIN x{k} x ON g.j = x.dim GROUP BY g.i)"
            f", m{k} AS (SELECT CAST(GREATEST(MAX(ABS(y)), 1) AS BIGINT) AS mx"
            f" FROM y{k})"
            f", x{k + 1} AS (SELECT dim, CAST(CASE WHEN y >= 0"
            f" THEN ABS(y) // GREATEST(mx // {POWER_UNIT}, 1)"
            f" ELSE -(ABS(y) // GREATEST(mx // {POWER_UNIT}, 1)) END AS BIGINT)"
            f" AS x FROM y{k}, m{k})"
        )
    parts.append(f"SELECT dim, x AS eig_micro FROM x{POWER_ITERS}")
    return "\n".join(parts)


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
    from pyspark.sql import Window

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


# ------------------------------------------- FEATURE HASHING TRICK

HASH_TRICK_BUCKETS = 16


def _text_hashing_trick(spark, sf_dir):
    """The hashing-trick featurizer (Vowpal-Wabbit-style bag of words):
    every token maps to one of 16 buckets by its md5-derived hash and
    per-(doc, bucket) counts form the fixed-width sparse feature
    vector — the constant-memory text featurization that needs NO
    vocabulary pass at any corpus size (the whole point of the trick).
    Long (doc, bucket, cnt) output keeps it sparse; one explode + one
    aggregate, the bucket hash reuses the engine-portable md5 token
    hash so the oracle reproduces bucket ids exactly."""
    from .ext.text import token_hash, tokens

    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.col("text").alias("_t"))
        .transform(spread, F.col("doc_id"))
        .select("doc_id", F.explode(tokens(F.col("_t"))).alias("term"))
    )
    bucket = F.pmod(token_hash(F.col("term")), F.lit(HASH_TRICK_BUCKETS))
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_HASH_TRICK_SQL = f"""
WITH tok AS (SELECT doc_id,
                    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                      AS term
             FROM documents)
SELECT doc_id,
       ('0x' || substr(md5(term), 1, 8))::BIGINT % {HASH_TRICK_BUCKETS}
         AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM tok GROUP BY 1, 2
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
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("pc"),
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


# ------------------------------------------- VOCAB COVERAGE EVAL

COVERAGE_VOCAB_K = 20


def _corpus_ngram_coverage(spark, sf_dir):
    """Tokenizer-vocabulary coverage evaluation: what fraction of all
    corpus token OCCURRENCES does a top-K frequency vocabulary cover —
    the out-of-vocabulary-rate curve point every tokenizer budget
    decision reads. One token explode + one vocab-grain aggregate; the
    top-K cut is a distributed TakeOrderedAndProject and the coverage
    ratio divides two exact int64 sums (the K-vocab total rides back
    as a 1-row broadcast)."""
    from .ext.text import tokens

    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select(F.col("text").alias("_t"))
        .transform(spread)
        .select(F.explode(tokens(F.col("_t"))).alias("term"))
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf")).persist()
    top = counts.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(
        COVERAGE_VOCAB_K
    )
    tot = counts.agg(
        F.sum("tf").alias("total_tok"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    cov = top.agg(F.sum("tf").alias("covered_tok"))
    j = tot.crossJoin(F.broadcast(cov))
    return j.select(
        "n_terms",
        "total_tok",
        "covered_tok",
        (
            F.floor(
                F.col("covered_tok").cast("double")
                / F.col("total_tok").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("coverage4"),
    )


_NGRAM_COVERAGE_SQL = f"""
WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS term FROM documents),
c AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term),
top AS (SELECT tf FROM c ORDER BY tf DESC, term ASC LIMIT {COVERAGE_VOCAB_K}),
tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tok,
               CAST(count(*) AS BIGINT) AS n_terms FROM c),
cov AS (SELECT CAST(sum(tf) AS BIGINT) AS covered_tok FROM top)
SELECT n_terms, total_tok, covered_tok,
       floor(CAST(covered_tok AS DOUBLE) / CAST(total_tok AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS coverage4
FROM tot, cov
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


# ------------------------------------------------ KNN GRAPH BUILD

KNN_GRAPH_K = 4


def _embed_knn_graph(spark, sf_dir):
    """Approximate k-NN GRAPH construction + reciprocity QA — the
    index-building step of HNSW/NN-descent-style ANN: every vector's
    top-4 same-LSH-bucket neighbors by cosine, then the fraction of
    directed edges that are MUTUAL (low reciprocity flags a badly
    bucketed space). Candidates come from the hyperplane-LSH bucket
    equi-join (work tracks bucket collisions, not N²); the per-vector
    top-4 is a bucket-keyed ranking window whose partitions are the
    per-vector candidate lists — with millions of vectors the vectors
    ARE the parallelism; mutuality is one self-equi-join of the edge
    list on the reversed pair."""
    from pyspark.sql import Window

    from .ext.similarity import cosine, lsh_bucket, with_norm

    emb = t(spark, sf_dir, "embeddings")
    e = with_norm(emb, "embedding").select(
        F.col("vec_id").alias("id"), "vec", "nrm",
        lsh_bucket(F.col("vec")).alias("bucket"),
    )
    a = e.select(
        F.col("id").alias("src"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = e.select(
        F.col("id").alias("dst"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("src") != F.col("dst"))
    scored = pairs.select(
        "src", "dst", cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("cos")
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
    edges = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .select("src", "dst")
        .persist()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = edges.join(rev, ["src", "dst"])
    stats = edges.agg(
        F.count_distinct("src").alias("n_nodes"),
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(F.broadcast(mutual.agg(F.count(F.lit(1)).alias("n_mutual"))))
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_mutual",
        (
            F.floor(
                F.col("n_mutual").cast("double") / F.col("n_edges") * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recip4"),
    )


def _knn_graph_sql() -> str:
    from .registry_ext import _EMB_D, _sql_lsh_bucket

    return f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                            CAST({_sql_lsh_bucket()} AS BIGINT) AS bucket FROM e)
      WHERE nrm > 0),
s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b USING (bucket)
      WHERE a.vec_id <> b.vec_id),
edges AS (SELECT src, dst
          FROM (SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY cos DESC, dst ASC) AS rnk
                FROM s)
          WHERE rnk <= {KNN_GRAPH_K}),
m AS (SELECT count(*) AS n_mutual
      FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src),
g AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
             CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_edges, CAST(n_mutual AS BIGINT) AS n_mutual,
       floor(CAST(n_mutual AS DOUBLE) / n_edges * 10000 + 0.5) / 10000.0
         AS recip4
FROM g, m
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
    from pyspark.sql import Window

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
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    staged = ev.select(
        "user_id", cents.alias("c"), age_days.alias("age_days")
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


# --------------------------------------------- FULL DEDUP PIPELINE


def _corpus_dedup_pipeline(spark, sf_dir):
    """The complete dedup ladder in one report — raw → exact-normalized
    canonical → near-dup survivor — with per-source counts and the
    character budget that survives. This is the shape of a real
    curation job's accounting: every stage reuses an independently
    oracle-verified operator (text_dedup_exact_normalized's
    fingerprint, dedup_survivorship's cluster election), so the
    composite is auditable piecewise AND end-to-end.

    One doc-grain pass carries boolean stage flags (exact-canonical:
    doc == min(doc) per normalized fingerprint, via groupBy+join, no
    window; near-dup survivor: unclustered OR elected keeper, LEFT
    join against the bucketed LSH+CC survivorship table) and ONE
    source-grain aggregate derives all funnel columns."""
    docs = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    staged = docs.select("doc_id", "source", "n_chars", F.md5(norm).alias("fp"))
    canon = staged.groupBy("fp").agg(F.min("doc_id").alias("min_id"))
    surv = _dedup_survivorship(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), F.col("keep").alias("nd_keep")
    )
    flagged = (
        staged.join(canon, "fp")
        .join(surv, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            (F.col("doc_id") == F.col("min_id")).alias("ex"),
            F.coalesce(F.col("nd_keep"), F.lit(True)).alias("sv"),
        )
    )
    final = F.col("ex") & F.col("sv")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("ex").cast("long")).alias("n_exact"),
        F.sum(final.cast("long")).alias("n_final"),
        F.sum(F.when(final, F.col("n_chars")).otherwise(0)).alias("chars_final"),
    )


def _dedup_pipeline_sql() -> str:
    from .registry_ext import _dedup_clusters_sql

    return f"""
WITH cl AS ({_dedup_clusters_sql().strip()}),
sized AS (SELECT cl.doc, cl.cluster, d.n_chars
          FROM cl JOIN documents d ON d.doc_id = cl.doc),
k AS (SELECT cluster,
             -(max(struct_pack(a := n_chars, b := -doc)).b) AS keeper
      FROM sized GROUP BY cluster),
stg AS (SELECT doc_id, source, n_chars,
               md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fp
        FROM documents),
m AS (SELECT fp, min(doc_id) AS min_id FROM stg GROUP BY fp),
fl AS (SELECT stg.source, stg.n_chars,
              stg.doc_id = m.min_id AS ex,
              CASE WHEN cl.doc IS NULL THEN TRUE
                   ELSE stg.doc_id = k.keeper END AS sv
       FROM stg JOIN m USING (fp)
       LEFT JOIN cl ON cl.doc = stg.doc_id
       LEFT JOIN k ON cl.cluster = k.cluster)
SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
       CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN ex AND sv THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       CAST(sum(CASE WHEN ex AND sv THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_final
FROM fl GROUP BY source
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


# --------------------------------------- CHAR-TRIGRAM LANGUAGE MODEL


def _text_char_trigram_lm(spark, sf_dir):
    """Character-trigram language-model TRAINING counts: top-10 char
    trigrams per language label — the statistics a real language
    identifier is fit from (the production upgrade of the stopword
    heuristic in text_language_id; at inference, a doc scores by
    summed trigram log-odds against these tables).

    Scale shape (r9): the trigram generation reads the MATERIALIZED
    shared per-doc trigram stage (one explode per process, shared with
    the perplexity bucketing; the spread-before-explode discipline
    lives in the stage build) — corpus counts are the m-weighted sum
    over the distinct (doc, tri) grain, exact by construction — then
    the per-group top-10 via the SALTED two-level grouped_topk: a
    whale language (English owning most of the corpus) never funnels
    through one reducer."""
    from .ops.scale import grouped_topk
    from .registry_util import shared_char_trigrams

    counts = (
        shared_char_trigrams(spark, sf_dir)
        .select("lang", F.col("tri").alias("trigram"), "m")
        .groupBy("lang", "trigram")
        .agg(F.sum("m").alias("cnt"))
    )
    return grouped_topk(counts, "lang", [("cnt", "desc"), ("trigram", "asc")], 10)


_TRIGRAM_LM_SQL = """
WITH tri AS (
  SELECT lang,
         unnest(CASE WHEN len(text) >= 3
                     THEN list_transform(range(1, len(text) - 1),
                                         i -> text[i : i + 2])
                     ELSE []::VARCHAR[] END) AS trigram
  FROM documents),
c AS (SELECT lang, trigram, CAST(count(*) AS BIGINT) AS cnt
      FROM tri GROUP BY lang, trigram)
SELECT lang, trigram, cnt
FROM (SELECT lang, trigram, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, trigram ASC) AS rn
      FROM c)
WHERE rn <= 10
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
    from .ops import relational as R

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


# ------------------------------------------ NORMALIZED EXACT DEDUP


def _text_dedup_exact_normalized(spark, sf_dir):
    """Near-exact dedup: fingerprint the NORMALIZED text (lowercase,
    trim, whitespace runs collapsed — the standard curation
    normalization before hashing) and report, per fingerprint, the
    canonical doc, copy count, and how many RAW-distinct variants the
    normalization collapsed together. One hash-groupBy shuffle on a
    16-byte key — the same scale shape as dedup_exact_hash, which this
    refines (raw md5 misses trivially-reformatted duplicates).
    Only multi-copy fingerprints are returned (singletons are not
    duplicates)."""
    docs = t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), " +", " ")))
    return (
        docs.select(
            F.md5(norm).alias("fingerprint"),
            "doc_id",
            F.md5(F.col("text")).alias("raw_fp"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct(F.col("raw_fp")).alias("n_raw_variants"),
        )
        .filter(F.col("n_copies") > 1)
    )


_NORM_DEDUP_SQL = """
SELECT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
       min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


# ------------------------------------------- EMBEDDING OUTLIER SCORE


def _embed_outlier_score(spark, sf_dir):
    """Embedding-quality outlier screen: diagonal-Mahalanobis distance
    of every vector from the corpus per-dimension mean/variance, top 20
    by score — the cheap whole-corpus anomaly pass you run before
    trusting embeddings for dedup or retrieval.

    Exactness discipline: components quantize to integer micro-units;
    per-dim moments are exact int64 sums (one posexplode + one
    dim-grain aggregate); the 64 means/variances ride back as ONE
    broadcast row of two arrays, and each vector's score is a single
    in-order array fold (both engines sum the 64 terms in array order,
    so the double result is bit-identical). Top-20 via the window-free
    ranked_topk."""
    from .ops.scale import ranked_topk

    emb = t(spark, sf_dir, "embeddings")
    micro = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1_000_000 + 0.5).cast("long"),
    )
    flat = emb.select(F.posexplode(micro).alias("dim", "m"))
    stats = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("s"),
        F.sum(F.col("m") * F.col("m")).alias("q"),
    )
    packed = stats.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "dim",
                    (F.col("s").cast("double") / F.col("n")).alias("mean"),
                    (
                        (
                            F.col("n").cast("double") * F.col("q").cast("double")
                            - F.col("s").cast("double") * F.col("s").cast("double")
                        )
                        / (F.col("n").cast("double") * F.col("n").cast("double"))
                    ).alias("vard"),
                )
            )
        ).alias("st")
    )
    scored = (
        emb.select("vec_id", micro.alias("mi"))
        .crossJoin(F.broadcast(packed))
        .select(
            "vec_id",
            F.expr(
                "aggregate(sequence(0, size(mi) - 1), cast(0.0 as double),"
                " (acc, i) -> acc + (cast(mi[i] as double) - st[i].mean)"
                " * (cast(mi[i] as double) - st[i].mean) / st[i].vard)"
            ).alias("score"),
        )
    )
    scored = scored.select(
        "vec_id", (F.floor(F.col("score") * 10000 + 0.5) / 10000.0).alias("score4")
    )
    return ranked_topk(scored, [("score4", "desc"), ("vec_id", "asc")], 20)


_OUTLIER_SQL = """
WITH m AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT))
           AS mi
  FROM embeddings),
flat AS (SELECT (u.p).d AS dim, (u.p).v AS mv
         FROM m, LATERAL unnest(list_transform(range(1, len(mi) + 1),
              k -> {'d': k - 1, 'v': mi[k]})) AS u(p)),
st0 AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mv) AS BIGINT) AS s,
               CAST(sum(mv * mv) AS BIGINT) AS q
        FROM flat GROUP BY dim),
st AS (SELECT list(CAST(s AS DOUBLE) / n ORDER BY dim) AS means,
              list((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) ORDER BY dim)
                AS vars
       FROM st0),
sc AS (SELECT vec_id,
              -- list_reduce folds left-to-right, the same pairing order
              -- as Spark's aggregate() fold, so the double is
              -- bit-identical (list_sum may pairwise-sum internally)
              list_reduce(list_transform(range(1, len(mi) + 1),
                k -> (CAST(mi[k] AS DOUBLE) - means[k])
                     * (CAST(mi[k] AS DOUBLE) - means[k]) / vars[k]),
                (a, b) -> a + b) AS score
       FROM m, st),
r AS (SELECT vec_id, floor(score * 10000 + 0.5) / 10000.0 AS score4 FROM sc)
SELECT vec_id, score4, CAST(rnk AS INTEGER) AS rnk
FROM (SELECT vec_id, score4,
             row_number() OVER (ORDER BY score4 DESC, vec_id ASC) AS rnk
      FROM r)
WHERE rnk <= 20
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
    from .registry_util import round2

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


# ------------------------------------------------ DEDUP SURVIVORSHIP


def _dedup_survivorship(spark, sf_dir):
    """The APPLY step of near-dup dedup: for every cluster from the
    MinHash-LSH + connected-components pipeline, elect the canonical
    survivor (longest text, ties to the smallest doc_id) and emit the
    (doc -> keeper) mapping with a keep flag — the table a 100 TB
    curation job anti-joins against to drop duplicates while keeping
    one representative.

    The election is an aggregate argmax — ``max(struct(n_chars,
    -doc_id))`` per cluster — never a window over the clustered docs;
    cluster membership is the same materialized cluster stage
    dedup_clusters verifies (r10: the CC fixpoint runs once per
    process for all three cluster consumers)."""
    docs = t(spark, sf_dir, "documents")
    clusters = shared_minhash_clusters(spark, sf_dir)
    sized = clusters.join(docs.select("doc_id", "n_chars"), clusters.doc == docs.doc_id)
    keeper = (
        sized.groupBy("cluster")
        .agg(F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))).alias("k"))
        .select("cluster", (-F.col("k.neg")).alias("keeper"))
    )
    return (
        clusters.join(keeper, "cluster")
        .select(
            "doc",
            "cluster",
            "keeper",
            (F.col("doc") == F.col("keeper")).alias("keep"),
        )
    )


def _survivorship_sql() -> str:
    from .registry_ext import _dedup_clusters_sql

    return f"""
WITH cl AS ({_dedup_clusters_sql().strip()}),
sized AS (SELECT cl.doc, cl.cluster, d.n_chars
          FROM cl JOIN documents d ON d.doc_id = cl.doc),
k AS (SELECT cluster,
             -(max(struct_pack(a := n_chars, b := -doc)).b) AS keeper
      FROM sized GROUP BY cluster)
SELECT cl.doc, cl.cluster, k.keeper, cl.doc = k.keeper AS keep
FROM cl JOIN k ON cl.cluster = k.cluster
"""


# ----------------------------------------------------- BPE MERGE TRAIN

BPE_MERGES = 3


def _corpus_bpe_merges(spark, sf_dir):
    """The first ``BPE_MERGES`` byte-pair-encoding training merges over
    the corpus — the tokenizer-training primitive itself, not a proxy:
    count adjacent symbol pairs weighted by word frequency, take the
    most frequent pair (ties by pair text — the deterministic variant
    of the classic algorithm), merge it everywhere (left-to-right
    non-overlapping and TOKEN-ALIGNED), recount, repeat.

    The merge is applied with a boundary-anchored ``replace``: the
    sequence is wrapped in sentinel spaces with every internal
    separator doubled (``' ' || replace(seq,' ','  ') || ' '``), so the
    pattern ``' p1  p2 '`` can only match at token boundaries — a plain
    substring replace on the single-space form would merge ACROSS
    boundaries (pair ``'h e'`` matching inside ``'th e'`` after an
    earlier ``'t h'`` merge, corrupting later merge ranks). The
    replacement ``' merged '`` restores the consumed boundary halves,
    so scan-continue-after-replacement replace in both engines is
    exactly the left-to-right non-overlapping token merge; un-doubling
    (trim + ``'  '``→``' '``) returns to the canonical form.

    Scale shape: ONE corpus-wide token explode + groupBy produces the
    word-frequency table, and every merge iteration runs on THAT table
    (vocabulary-grain, tiny by Heaps' law relative to the corpus); the
    top pair is an orderBy().limit(1) — a distributed
    TakeOrderedAndProject — broadcast back as a 1-row scalar. Each
    iteration's sequence table is localCheckpointed: the top-pair and
    the merged-sequence branches both consume it, and without
    truncation the lineage re-derives the corpus explode 2^k times."""
    from .ext.text import tokens

    docs = t(spark, sf_dir, "documents")
    words = (
        docs.select(F.col("text").alias("_t"))
        .transform(spread)
        .select(F.explode(tokens(F.col("_t"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seq = words.select(
        F.expr(
            "array_join(transform(sequence(1, length(word)),"
            " i -> substr(word, i, 1)), ' ')"
        ).alias("seq"),
        "n",
    ).localCheckpoint()
    picks = []
    for k in range(1, BPE_MERGES + 1):
        toks = F.split(F.col("seq"), " ")
        grams = F.expr(
            "transform(sequence(1, size(split(seq, ' ')) - 1),"
            " i -> concat(split(seq, ' ')[i - 1], ' ', split(seq, ' ')[i]))"
        )
        pairs = (
            seq.filter(F.size(toks) >= 2)
            .select("n", F.explode(grams).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
        )
        top1 = pairs.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1)
        picks.append(
            top1.select(
                F.lit(k).alias("merge_rank"), "pair", F.col("cnt").alias("cnt")
            )
        )
        seq = (
            seq.crossJoin(
                F.broadcast(
                    top1.select(
                        F.col("pair").alias("_p"),
                        F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("_m"),
                    )
                )
            )
            .select(
                F.trim(
                    F.replace(
                        F.replace(
                            F.concat(
                                F.lit(" "),
                                F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                                F.lit(" "),
                            ),
                            F.concat(
                                F.lit(" "),
                                F.replace(F.col("_p"), F.lit(" "), F.lit("  ")),
                                F.lit(" "),
                            ),
                            F.concat(F.lit(" "), F.col("_m"), F.lit(" ")),
                        ),
                        F.lit("  "),
                        F.lit(" "),
                    )
                ).alias("seq"),
                "n",
            )
            .localCheckpoint()
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def _bpe_sql() -> str:
    parts = [
        """WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS word FROM documents)
  GROUP BY word),
s0 AS (SELECT array_to_string(list_transform(range(1, len(word) + 1),
                                             i -> word[i]), ' ') AS seq, n
       FROM w0)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(
            f""", p{k} AS (
  SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT n, unnest(list_transform(range(1, len(string_split(seq, ' '))),
                 i -> string_split(seq, ' ')[i] || ' '
                      || string_split(seq, ' ')[i + 1])) AS pair
        FROM s{k - 1} WHERE len(string_split(seq, ' ')) >= 2)
  GROUP BY pair),
t{k} AS (SELECT pair, cnt FROM p{k} ORDER BY cnt DESC, pair ASC LIMIT 1),
s{k} AS (SELECT trim(replace(
           replace(' ' || replace(s.seq, ' ', '  ') || ' ',
                   ' ' || replace(t.pair, ' ', '  ') || ' ',
                   ' ' || replace(t.pair, ' ', '') || ' '),
           '  ', ' ')) AS seq, s.n
         FROM s{k - 1} s, t{k} t)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, pair, cnt FROM t{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return "\n".join(parts) + "\n" + sel


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
    from pyspark.sql import Window

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


# ------------------------------------------------- LAG AUTOCORRELATION


def _ts_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of event values in time order —
    the is-this-series-momentum-or-noise screen. Pearson r over the
    (v_t, v_{t-1}) pairs from EXACT integer cent sums (six int64 power
    sums per user, one lag window + one aggregate = one shuffle); the
    closed-form double arithmetic runs on per-user scalars only,
    written identically here and in the oracle. Users with < 3 pairs
    or zero variance on either side are filtered (r undefined)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
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


# Relational replay of the synthesize_media pixel LCG (see the
# multimodal_pixel_stats QueryDef note): pw(k) carries (A^k, sum_{j<k}
# A^j) mod 2^63 — id-independent, one recursive CTE capped at the max
# pixel-byte count (w<=32, h<=16 -> 32*16*3 = 1536); per image,
# seed_k = A^k*s0 + S_k and byte_k = (seed_k >> 33) % 256. Channel =
# (k-1) % 3; means floor-rounded from exact integer sums exactly as the
# numpy side does (int(s*100//n)/100).
_PIXEL_STATS_SQL = """
WITH RECURSIVE pw(k, ak, sk) AS (
  SELECT 1, CAST(6364136223846793005 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1,
         CAST((CAST(6364136223846793005 AS HUGEINT) * ak)
              % 9223372036854775808 AS BIGINT),
         CAST((CAST(6364136223846793005 AS HUGEINT) * sk + 1)
              % 9223372036854775808 AS BIGINT)
  FROM pw WHERE k < 1536
),
imgs AS (
  SELECT doc_id AS media_id,
         CAST(length(text) % 32 + 1 AS BIGINT) AS w,
         CAST((doc_id // 2) % 16 + 1 AS BIGINT) AS h,
         CAST((CAST(doc_id AS HUGEINT) * 6364136223846793005
               + 1442695040888963407) % 9223372036854775808 AS BIGINT) AS s0
  FROM documents WHERE doc_id % 2 = 1
),
px AS (
  SELECT i.media_id, i.w * i.h AS npx, p.k,
         (CAST((CAST(p.ak AS HUGEINT) * i.s0 + p.sk)
               % 9223372036854775808 AS BIGINT) // 8589934592) % 256 AS byte
  FROM imgs i JOIN pw p ON p.k <= i.w * i.h * 3
),
ch AS (
  SELECT media_id, npx,
         CAST(sum(CASE WHEN (k - 1) % 3 = 0 THEN byte END) AS BIGINT) AS sr,
         CAST(sum(CASE WHEN (k - 1) % 3 = 1 THEN byte END) AS BIGINT) AS sg,
         CAST(sum(CASE WHEN (k - 1) % 3 = 2 THEN byte END) AS BIGINT) AS sb
  FROM px GROUP BY media_id, npx
)
SELECT media_id, CAST(npx AS BIGINT) AS n_px,
       ((sr * 100) // npx) / 100.0 AS mean_r2,
       ((sg * 100) // npx) / 100.0 AS mean_g2,
       ((sb * 100) // npx) / 100.0 AS mean_b2
FROM ch
UNION ALL
SELECT doc_id AS media_id, CAST(NULL AS BIGINT) AS n_px,
       CAST(NULL AS DOUBLE) AS mean_r2, CAST(NULL AS DOUBLE) AS mean_g2,
       CAST(NULL AS DOUBLE) AS mean_b2
FROM documents WHERE doc_id % 2 = 0
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


R4_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("sql_pipe_syntax", _sql_pipe_syntax, _PIPE_SQL, ("sql4",)),
        QueryDef(
            "ts_interpolate_linear", _ts_interpolate_linear, _INTERP_SQL, ("ts",)
        ),
        QueryDef(
            "agg_higher_moments", _agg_higher_moments, _MOMENTS_SQL, ("agg",)
        ),
        QueryDef(
            "dedup_minhash_jaccard_est",
            _dedup_minhash_jaccard_est,
            _minhash_est_sql(),
            ("ext",),
        ),
        QueryDef(
            "events_markov_stationary",
            _events_markov_stationary,
            _markov_sql(),
            ("events",),
        ),
        QueryDef("ts_autocorr", _ts_autocorr, _AUTOCORR_SQL, ("ts",)),
        QueryDef(
            "corpus_bpe_merges", _corpus_bpe_merges, _bpe_sql(), ("corpus",)
        ),
        QueryDef(
            "dim_asof_lookup", _dim_asof_lookup, _DIM_ASOF_SQL, ("incremental",)
        ),
        QueryDef(
            "events_decay_score", _events_decay_score, _DECAY_SQL, ("events",)
        ),
        QueryDef(
            "embed_knn_graph", _embed_knn_graph, _knn_graph_sql(), ("ext",)
        ),
        QueryDef(
            "text_hashing_trick",
            _text_hashing_trick,
            _HASH_TRICK_SQL,
            ("ext",),
        ),
        QueryDef(
            "agg_weighted_median",
            _agg_weighted_median,
            _WMEDIAN_SQL,
            ("agg",),
        ),
        QueryDef(
            "corpus_ngram_coverage",
            _corpus_ngram_coverage,
            _NGRAM_COVERAGE_SQL,
            ("corpus",),
        ),
        QueryDef(
            "events_count_dispersion",
            _events_count_dispersion,
            _COUNT_DISPERSION_SQL,
            ("events",),
        ),
        QueryDef(
            "events_peak_concurrency",
            _events_peak_concurrency,
            _PEAK_SQL,
            ("events",),
        ),
        QueryDef(
            "events_user_type_gini",
            _events_user_type_gini,
            _GINI_SQL,
            ("events",),
        ),
        QueryDef(
            "corpus_dedup_pipeline",
            _corpus_dedup_pipeline,
            _dedup_pipeline_sql(),
            ("corpus",),
        ),
        QueryDef(
            "join_interval_overlap",
            _join_interval_overlap,
            _OVERLAP_SQL,
            ("join",),
        ),
        QueryDef(
            "text_char_trigram_lm",
            _text_char_trigram_lm,
            _TRIGRAM_LM_SQL,
            ("ext",),
        ),
        QueryDef(
            "join_asof_tolerance",
            _join_asof_tolerance,
            _ASOF_TOL_SQL,
            ("join",),
        ),
        QueryDef(
            "sql_group_by_all",
            _sql_group_by_all,
            _GROUP_BY_ALL_SQL,
            ("sql4",),
        ),
        QueryDef(
            "text_dedup_exact_normalized",
            _text_dedup_exact_normalized,
            _NORM_DEDUP_SQL,
            ("ext",),
        ),
        QueryDef(
            "embed_outlier_score", _embed_outlier_score, _OUTLIER_SQL, ("ext",)
        ),
        QueryDef(
            "dedup_survivorship",
            _dedup_survivorship,
            _survivorship_sql(),
            ("ext",),
        ),
        QueryDef(
            "events_attribution_last_touch",
            _events_attribution_last_touch,
            _ATTRIBUTION_SQL,
            ("events",),
        ),
        QueryDef(
            "embed_power_iteration",
            _embed_power_iteration,
            _power_sql(),
            ("ext",),
        ),
        QueryDef(
            "multimodal_pixel_stats",
            lambda spark, sf_dir: __import__(
                "fitness_data_ingest_spark.ext.multimodal", fromlist=["multimodal"]
            ).image_pixel_stats(
                __import__(
                    "fitness_data_ingest_spark.ext.multimodal",
                    fromlist=["multimodal"],
                ).synthesize_media(
                    t(spark, sf_dir, "documents").select(
                        "doc_id", F.length("text").alias("n_chars")
                    ),
                    png_mod4=True,
                )
            ),
            # Full hash oracle (round-5, verdict item 4): the pixel
            # bytes are an affine LCG mod 2^63, so DuckDB replays them
            # relationally — (A^k, sum A^j) are id-INDEPENDENT and come
            # from one 1536-row recursive CTE; seed_k = A^k*s0 + S_k
            # (HUGEINT intermediates, BIGINT values). PNG rows decode
            # to the SAME LCG pixels as PPM, so the oracle covers every
            # image row and hash-verifies the whole zlib-inflate +
            # five-unfilter PNG pipeline, not just the PPM subset; WAV
            # (even-id) rows emit typed nulls on both sides.
            _PIXEL_STATS_SQL,
            ("multimodal",),
        ),
        QueryDef(
            "text_compression_quality",
            lambda spark, sf_dir: __import__(
                "fitness_data_ingest_spark.ext.text", fromlist=["text"]
            ).compression_quality(t(spark, sf_dir, "documents")),
            # rows-only BY DESIGN: no SQL engine exposes deflate; the
            # kernel is pinned in pytest to direct zlib re-compression
            None,
            ("ext",),
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
            ("ts",),
        ),
    )
}
