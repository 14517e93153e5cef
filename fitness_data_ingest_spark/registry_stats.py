"""Statistics, sampling and model evaluation: two-sample tests,
regression and ANOVA, experiment design and power (``stat_*``),
reproducible and weighted sampling (``sample_*``), and classifier /
ranking evaluation (``ml_*``).

Exactness follows the house rules of ``registry_util``: every statistic
is either pure int64 arithmetic, or an IEEE-754 expression whose inputs
are exactly representable int64 casts, so both engines evaluate the
identical float expression tree; every exported float is quantized
``floor(x*10^k + 0.5)/10^k`` per term before any cross-row sum.
Hash-arm assignments use ``ext.text.token_hash`` (md5 prefix as int64),
which DuckDB reproduces bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .ext.text import token_hash, tokens
from .ops.scale import spread
from .registry_util import QueryDef, RP_IN_DIMS, cents, shared_sq8_codes, t


def _sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling by content hash — the
    reproducible way to downsample training data: the keep-decision is a
    pure function of (event_id), so it is stable under repartitioning,
    re-runs, and engine changes (no RNG state). Per-stratum rates:
    clicks 10%, views 20%, everything else 100%."""
    ev = t(spark, sf_dir, "events")
    bucket = token_hash(F.col("event_id").cast("string")) % 100
    rate = (
        F.when(F.col("event_type") == "click", 10)
        .when(F.col("event_type") == "view", 20)
        .otherwise(100)
    )
    return (
        ev.filter(bucket < rate)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


_STRATIFIED_SQL = """
WITH b AS (SELECT event_type,
                  CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 100 AS bucket
           FROM events)
SELECT event_type, count(*) AS n_kept
FROM b
WHERE bucket < CASE event_type WHEN 'click' THEN 10 WHEN 'view' THEN 20 ELSE 100 END
GROUP BY event_type
"""


# Bernoulli sampling modulus: keep-1-in-8 (12.5%) — large enough that
# every fixture source keeps rows, small enough that the realized-rate
# audit has something to measure.
SAMPLE_MOD = 8


# ------------------------------------------- HASH-BERNOULLI SAMPLE AUDIT


def hash_sample_audit(docs, mod: int = SAMPLE_MOD):
    """Deterministic Bernoulli sampling by content-free key hash —
    ``md5('smp:' || doc_id) % mod == 0`` — with a per-source audit of
    the realized rate and the token mass the sample carries.

    Why hash-based and not ``df.sample()``: at 100 TB a sample must be
    REPRODUCIBLE across retries, engines, and days (task retries re-roll
    an RNG sample and break exactly-once semantics downstream; a
    hash-split never moves a row between runs). This is the standard
    train/eval holdout mechanism (same family as corpus_split_assign)
    restated as a sampling-QA operator: the audit columns are what a
    pipeline dashboard alarms on when a source's realized rate drifts
    from the nominal 1/mod (it cannot here — that is the point).

    Scale shape: ONE scan; the predicate and token count are per-row
    JVM expressions; the audit is a single map-side-combinable groupBy
    on ``source`` (dozens of groups at any scale). No joins, no
    windows, no second pass."""
    sel = (
        F.pmod(token_hash(F.concat(F.lit("smp:"), F.col("doc_id").cast("string"))), F.lit(mod))
        == 0
    )
    n_tok = F.size(tokens(F.col("text")))
    per = docs.select(
        "source", sel.alias("sel"), n_tok.alias("n_tok")
    ).groupBy("source")
    return (
        per.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("sel"), 1).otherwise(0)).alias("n_sampled"),
            F.sum(F.when(F.col("sel"), F.col("n_tok")).otherwise(0)).alias(
                "sampled_tokens"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_sampled",
            (
                F.floor(
                    F.col("n_sampled").cast("double")
                    / F.col("n_docs")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("rate4"),
            "sampled_tokens",
        )
        .orderBy("source")
    )


def _sample_hash_bernoulli(spark, sf_dir):
    return hash_sample_audit(t(spark, sf_dir, "documents"))


_BERNOULLI_SQL = f"""
WITH d AS (
  SELECT source,
         ('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {SAMPLE_MOD} = 0 AS sel,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE sel) AS BIGINT) AS n_sampled,
       floor(CAST(count(*) FILTER (WHERE sel) AS DOUBLE) / count(*)
             * 10000 + 0.5) / 10000.0 AS rate4,
       CAST(COALESCE(sum(n_tok) FILTER (WHERE sel), 0) AS BIGINT)
         AS sampled_tokens
FROM d GROUP BY source ORDER BY source
"""


# Two-sample split for the rank statistics: the A/B arms are two event
# types of the same value stream (the canonical "did the intervention
# move the metric distribution" question).
KS_A = "click"

KS_B = "view"


# Coarse-bucket width for the hierarchical prefix sum over the value
# grain: cents-values bucket into ~range/4096 coarse groups, so the
# coarse offset table is bounded by the VALUE DOMAIN (metadata-sized at
# any row count), never by row count.
KS_BUCKET = 4096


# ---------------------------------------------------------------------
# Shared machinery: two-sample cumulative counts at the cents-value
# grain, built with the HIERARCHICAL prefix sum (coarse-bucket offsets +
# within-bucket windows) so no partition-less window ever appears —
# the same scalable identity events_cumulative_distinct uses at the
# month grain.
# ---------------------------------------------------------------------


def _two_sample_cum(events):
    """Per distinct cents-value v of the A/B value stream:
    (v, a_cnt, b_cnt, cum_a_le, cum_b_le) with inclusive cumulative
    counts, plus broadcastable totals attached (n_a, n_b).

    Scale shape: one shuffle to the (distinct-value) grain — bounded by
    the value DOMAIN, not the row count — then windows only within
    coarse buckets; the coarse offset build is a self-join on a table
    whose size is domain/KS_BUCKET (metadata-sized)."""
    ab = events.where(F.col("event_type").isin(KS_A, KS_B)).select(
        cents(F.col("value")).alias("v"),
        F.when(F.col("event_type") == KS_A, 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == KS_B, 1).otherwise(0).alias("b"),
    )
    g = ab.groupBy("v").agg(
        F.sum("a").alias("a_cnt"), F.sum("b").alias("b_cnt")
    )
    g = g.withColumn("bkt", F.floor(F.col("v") / KS_BUCKET))
    w = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g.select(
        "v",
        "bkt",
        "a_cnt",
        "b_cnt",
        F.sum("a_cnt").over(w).alias("ca_in"),
        F.sum("b_cnt").over(w).alias("cb_in"),
    )
    btot = g.groupBy("bkt").agg(
        F.sum("a_cnt").alias("ba"), F.sum("b_cnt").alias("bb")
    )
    b_a = btot.select(F.col("bkt").alias("k"))
    b_b = btot.select(F.col("bkt").alias("k2"), "ba", "bb")
    offs = (
        b_a.join(b_b, b_b.k2 < b_a.k)
        .groupBy("k")
        .agg(F.sum("ba").alias("off_a"), F.sum("bb").alias("off_b"))
    )
    cum = (
        within.join(F.broadcast(offs), within.bkt == offs.k, "left")
        .select(
            "v",
            "a_cnt",
            "b_cnt",
            (F.col("ca_in") + F.coalesce("off_a", F.lit(0))).alias("cum_a_le"),
            (F.col("cb_in") + F.coalesce("off_b", F.lit(0))).alias("cum_b_le"),
        )
    )
    tot = cum.agg(
        F.sum("a_cnt").alias("n_a"), F.sum("b_cnt").alias("n_b")
    )
    return cum.join(F.broadcast(tot))


# ----------------------------------------------------- KOLMOGOROV-SMIRNOV


def ks_two_sample(events):
    """Two-sample Kolmogorov-Smirnov D between the A and B value
    distributions, computed EXACTLY in integers: at every distinct
    cents-value v, D's numerator is |cum_a·n_b − cum_b·n_a| (int64),
    maximized with a deterministic argmax (smallest v attaining the
    max).  D itself is the one quantized division at the very end.

    This is the drift/intervention test a data pipeline runs between
    two corpus snapshots or A/B arms.  The naive formulation sorts the
    combined sample through one reducer; here the ECDF merge is the
    hierarchical prefix sum of ``_two_sample_cum`` — every shuffle is
    keyed on the bounded value domain."""
    cum = _two_sample_cum(events)
    d = cum.select(
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a_le") * F.col("n_b") - F.col("cum_b_le") * F.col("n_a")
        ).alias("d_num"),
        F.col("v"),
    )
    best = d.groupBy("n_a", "n_b").agg(
        F.max(F.struct(F.col("d_num"), (-F.col("v")).alias("nv"))).alias("m")
    )
    return best.select(
        "n_a",
        "n_b",
        F.col("m.d_num").alias("d_num"),
        (-F.col("m.nv")).alias("at_cents"),
        (
            F.floor(
                F.col("m.d_num")
                / (F.col("n_a") * F.col("n_b")).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("ks_d6"),
    )


def _stat_ks_test(spark, sf_dir):
    return ks_two_sample(t(spark, sf_dir, "events"))


_TWO_SAMPLE_CTE = f"""
ab AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS a,
         CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END AS b
  FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
),
g AS (
  SELECT v, CAST(sum(a) AS BIGINT) AS a_cnt, CAST(sum(b) AS BIGINT) AS b_cnt
  FROM ab GROUP BY v
),
cum AS (
  SELECT v, a_cnt, b_cnt,
         CAST(sum(a_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_a_le,
         CAST(sum(b_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_b_le
  FROM g
),
tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a, CAST(sum(b_cnt) AS BIGINT) AS n_b
  FROM g
)
"""

_KS_SQL = f"""
WITH {_TWO_SAMPLE_CTE},
d AS (
  SELECT cum.v,
         CAST(abs(cum_a_le * tot.n_b - cum_b_le * tot.n_a) AS BIGINT) AS d_num,
         tot.n_a, tot.n_b
  FROM cum, tot
)
SELECT n_a, n_b, d_num, v AS at_cents,
       floor(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS ks_d6
FROM d ORDER BY d_num DESC, v ASC LIMIT 1
"""


# ------------------------------------------------------- MANN-WHITNEY U


def mannwhitney_u(events):
    """Mann-Whitney U (rank-sum) for the same A/B arms, tie-correct and
    EXACT: with per-distinct-value counts (a_v, b_v) and the strictly-
    below cumulative cum_b_lt, 2·U_A = Σ_v a_v · (2·cum_b_lt + b_v) —
    pure int64 (the ½ tie credit is carried as the doubled statistic).
    AUC = U/(n_a·n_b) is the probability a random A value exceeds a
    random B value — the effect size ML evals report.

    Same scale shape as the KS key: all heavy work at the bounded
    distinct-value grain."""
    cum = _two_sample_cum(events)
    per_v = cum.select(
        "n_a",
        "n_b",
        (
            F.col("a_cnt")
            * (2 * (F.col("cum_b_le") - F.col("b_cnt")) + F.col("b_cnt"))
        ).alias("u2_term"),
    )
    agg = per_v.groupBy("n_a", "n_b").agg(F.sum("u2_term").alias("u2_a"))
    return agg.select(
        "n_a",
        "n_b",
        "u2_a",
        (2 * F.col("n_a") * F.col("n_b") - F.col("u2_a")).alias("u2_b"),
        (
            F.floor(
                F.col("u2_a")
                / (2.0 * F.col("n_a") * F.col("n_b"))
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("auc6"),
    )


def _stat_mannwhitney_u(spark, sf_dir):
    return mannwhitney_u(t(spark, sf_dir, "events"))


_MWU_SQL = f"""
WITH {_TWO_SAMPLE_CTE},
u AS (
  SELECT tot.n_a, tot.n_b,
         CAST(sum(a_cnt * (2 * (cum_b_le - b_cnt) + b_cnt)) AS BIGINT) AS u2_a
  FROM cum, tot GROUP BY tot.n_a, tot.n_b
)
SELECT n_a, n_b, u2_a,
       CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b,
       floor(CAST(u2_a AS DOUBLE) / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             * 1000000 + 0.5) / 1000000.0 AS auc6
FROM u
"""


# ----------------------------------------------- CHI-SQUARE INDEPENDENCE


def chi2_independence(orders):
    """Chi-square independence audit of o_orderpriority × o_orderstatus
    at the CELL grain: observed count, margins, expected count, and the
    cell's chi-square contribution.  Per-cell output deliberately — the
    residual table is what an analyst reads, and it avoids any
    order-dependent float total (the scalar chi² is the oracle-side sum
    of the quantized contributions, which callers can fold exactly).

    Exactness: the contribution is ((obs·T − r·c)² )/(T·r·c) — the
    numerator root obs·T − r·c is exact int64; both engines square and
    divide the identical doubles.  Scale shape: one map-side-combinable
    groupBy to the (priority, status) grain (≤15 cells at any data
    size); margins and the total ride in as broadcast aggregates."""
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("obs")
    )
    rows = cells.groupBy("o_orderpriority").agg(F.sum("obs").alias("row_tot"))
    cols = cells.groupBy("o_orderstatus").agg(F.sum("obs").alias("col_tot"))
    tot = cells.agg(F.sum("obs").alias("t_tot"))
    j = (
        cells.join(F.broadcast(rows), "o_orderpriority")
        .join(F.broadcast(cols), "o_orderstatus")
        .join(F.broadcast(tot))
    )
    n = F.col("obs") * F.col("t_tot") - F.col("row_tot") * F.col("col_tot")
    denom = (
        F.col("t_tot") * F.col("row_tot") * F.col("col_tot")
    ).cast("double")
    return j.select(
        "o_orderpriority",
        "o_orderstatus",
        "obs",
        "row_tot",
        "col_tot",
        (
            F.floor(
                F.col("row_tot")
                * F.col("col_tot")
                / F.col("t_tot").cast("double")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("exp6"),
        (
            F.floor(
                n.cast("double") * n.cast("double") / denom * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("contrib6"),
    ).orderBy("o_orderpriority", "o_orderstatus")


def _stat_chi2_independence(spark, sf_dir):
    return chi2_independence(t(spark, sf_dir, "orders"))


_CHI2_SQL = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS obs
  FROM orders GROUP BY 1, 2
),
r AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
c AS (SELECT o_orderstatus, CAST(sum(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
tt AS (SELECT CAST(sum(obs) AS BIGINT) AS t_tot FROM cells)
SELECT cells.o_orderpriority, cells.o_orderstatus, obs, row_tot, col_tot,
       floor(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE) / CAST(t_tot AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS exp6,
       floor(CAST(obs * t_tot - row_tot * col_tot AS DOUBLE)
             * CAST(obs * t_tot - row_tot * col_tot AS DOUBLE)
             / CAST(t_tot * row_tot * col_tot AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS contrib6
FROM cells JOIN r USING (o_orderpriority) JOIN c USING (o_orderstatus), tt
ORDER BY o_orderpriority, o_orderstatus
"""


# Benjamini-Hochberg level: alpha = 0.05 exactly, expressed as the
# integer pair (1/alpha = 20) so the step-up test is pure int64
# cross-multiplication on nano-quantized p-values.
BH_INV_ALPHA = 20


# --------------------------------------------- BENJAMINI-HOCHBERG (FDR)


def benjamini_hochberg(events):
    """Benjamini-Hochberg step-up FDR control over per-group location
    tests (one hypothesis per event_type: "this type's mean value
    differs from the corpus mean").  The per-group p-value is the
    distribution-free Chebyshev bound p = min(1, s²/(n·(mean−μ)²)) —
    chosen precisely because it is RATIONAL in the integer moment sums
    (no erf/exp), so the whole procedure is engine-exact: p is
    nano-quantized to int64 and the step-up test p_(k)·m/α ≤ k is pure
    int64 cross-multiplication.

    Scale shape: one map-side-combinable groupBy to the hypothesis
    grain (m groups — small at any scale); ranking and the step-up scan
    are self-joins on that m-row table (broadcast, bounded build —
    never a partition-less window)."""
    vals = events.select(
        "event_type", cents(F.col("value")).alias("c")
    )
    g = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"),
        F.sum("s").alias("ts"),
        F.count(F.lit(1)).alias("m"),
    )
    j = g.join(F.broadcast(tot))
    # all doubles below are casts of exact int64s; identical expression
    # tree on the oracle side
    mu = F.col("ts").cast("double") / F.col("tn").cast("double")
    mean_g = F.col("s").cast("double") / F.col("n").cast("double")
    var_num = (F.col("q") * F.col("n") - F.col("s") * F.col("s")).cast("double")
    dev = mean_g - mu
    denom = F.col("n").cast("double") * dev * dev
    # degenerate hypotheses (single observation, or group mean exactly
    # the corpus mean) are unfalsifiable: p = 1 by definition — branch
    # explicitly (ANSI mode rejects the IEEE inf shortcut)
    p = F.when((F.col("n") < 2) | (denom == 0.0), F.lit(1.0)).otherwise(
        F.least(
            F.lit(1.0),
            var_num
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
            / denom,
        )
    )
    scored = j.select(
        "event_type",
        "n",
        "m",
        F.floor(p * 1000000000 + F.lit(0.5)).cast("long").alias("p9"),
    )
    a = scored.select(
        F.col("event_type"), F.col("n"), F.col("m"), F.col("p9")
    )
    b = scored.select(
        F.col("event_type").alias("et2"), F.col("p9").alias("p9_2")
    )
    ranked = (
        a.join(
            F.broadcast(b),
            (F.col("p9_2") < F.col("p9"))
            | ((F.col("p9_2") == F.col("p9")) & (F.col("et2") < F.col("event_type"))),
            "left",
        )
        .groupBy("event_type", "n", "m", "p9")
        .agg((F.count("et2") + 1).alias("k"))
    )
    kstar = ranked.agg(
        F.max(
            F.when(
                F.col("p9") * BH_INV_ALPHA * F.col("m")
                <= F.col("k") * F.lit(1000000000),
                F.col("k"),
            ).otherwise(F.lit(0))
        ).alias("k_star")
    )
    return (
        ranked.join(F.broadcast(kstar))
        .select(
            "event_type",
            "n",
            "p9",
            "k",
            (F.col("k") <= F.col("k_star")).alias("rejected"),
        )
        .orderBy("k")
    )


def _stat_benjamini_hochberg(spark, sf_dir):
    return benjamini_hochberg(t(spark, sf_dir, "events"))


_BH_SQL = f"""
WITH vals AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
  FROM vals GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts,
         CAST(count(*) AS BIGINT) AS m
  FROM g
),
scored AS (
  SELECT event_type, n, m,
         CAST(floor(
           CASE WHEN n < 2 OR CAST(n AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)) = 0.0
                THEN 1.0
                ELSE least(1.0,
                  CAST(q * n - s * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                  / (CAST(n AS DOUBLE)
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))))
           END * 1000000000 + 0.5) AS BIGINT) AS p9
  FROM g, tot
),
ranked AS (
  SELECT a.event_type, a.n, a.m, a.p9,
         CAST(1 + count(b.event_type) AS BIGINT) AS k
  FROM scored a LEFT JOIN scored b
    ON b.p9 < a.p9 OR (b.p9 = a.p9 AND b.event_type < a.event_type)
  GROUP BY a.event_type, a.n, a.m, a.p9
),
ks AS (
  SELECT max(CASE WHEN p9 * {BH_INV_ALPHA} * m <= k * 1000000000
                  THEN k ELSE 0 END) AS k_star
  FROM ranked
)
SELECT event_type, n, p9, k, k <= k_star AS rejected
FROM ranked, ks ORDER BY k
"""


# Poisson(1) bootstrap: inverse-CDF thresholds on a uniform 0..999999
# md5 draw.  cum P(k) * 1e6, k = 0..7; ties to the literal constants on
# BOTH engines, so replicate membership is bit-stable forever.
POISSON_CUM = (367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990)

N_BOOT = 64


# ------------------------------------------------ POISSON BOOTSTRAP CI


# the replicate-draw mixer: ONE md5 per row
# yields a 32-bit seed; each (row, replicate) draw is then a two-round
# multiply-xor-shift finalizer over (seed, replicate index) — pure int64
# arithmetic both engines evaluate identically, chosen so every
# intermediate stays inside SIGNED int64 under ANSI overflow checks:
#   x0 = s ^ (b*C1)          < 2^32   (b <= 63, C1*63 < 2^32)
#   m1 = x0*A1 % 2^31                 (2^32 * A1 < 2^63, A1 < 2^31)
#   m2 = (m1 ^ m1>>15)*A2 % 2^31      (2^31 * A2 < 2^63)
#   u  = (m2 ^ m2>>13) % 1e6
# The xor rounds break the per-row linearity a bare LCG stride would
# leave across replicates (correlated replicate means shrink the CI).
BOOT_MIX_C1 = 40503043  # per-replicate xor stride

BOOT_MIX_A1 = 1540483477  # MurmurHash2 multiplier, < 2^31

BOOT_MIX_A2 = 889871009  # second-round odd multiplier, < 2^31

BOOT_MIX_MOD = 2147483648  # 2^31


def bootstrap_ci(orders):
    """Deterministic Poisson bootstrap CI for mean(o_totalprice):
    every (row, replicate) pair draws a Poisson(1) count via a
    deterministic uniform (md5 row seed + integer mixer, see
    BOOT_MIX_*) through the inverse CDF (literal integer thresholds on
    both engines), so the resample is REPRODUCIBLE across retries and
    engines — the same argument as sample_hash_bernoulli, extended to
    uncertainty quantification.  CI bounds are exact order statistics
    of the 64 replicate means (ranks 2 and 63 ≈ 2.5%/97.5%).

    Scale shape: the 64× explode is the honest CPU cost of a bootstrap,
    but map-side combine collapses the shuffle to exactly 64 rows
    regardless of input size; ranking the replicates is a 64×64
    broadcast self-join (bounded build).  The point estimate rides in
    as the usual broadcast 1-row aggregate.  CPU shape: md5 runs ONCE
    per row, BEFORE the 64× explode — the exploded hot loop is pure
    int64 whole-stage-codegen (the previous form re-hashed per
    (row, replicate-group) and md5 was 80% of the key's CPU; the
    statistics are unchanged in kind, only the draw stream differs)."""
    base = orders.select(
        cents(F.col("o_totalprice")).alias("c"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("s"),
    )
    u = F.col("u")
    draw = F.lit(len(POISSON_CUM))
    for i in range(len(POISSON_CUM) - 1, -1, -1):
        draw = F.when(u < POISSON_CUM[i], i).otherwise(draw)
    rep = (
        base.select(
            "s", "c", F.explode(F.sequence(F.lit(0), F.lit(N_BOOT - 1))).alias("b")
        )
        .withColumn(
            "m1",
            F.expr(
                f"pmod((s ^ (CAST(b AS BIGINT) * {BOOT_MIX_C1}))"
                f" * {BOOT_MIX_A1}, {BOOT_MIX_MOD})"
            ),
        )
        .withColumn(
            "m2",
            F.expr(
                f"pmod((m1 ^ shiftright(m1, 15)) * {BOOT_MIX_A2}, {BOOT_MIX_MOD})"
            ),
        )
        .withColumn("u", F.expr("pmod(m2 ^ shiftright(m2, 13), 1000000)"))
        .select("b", F.col("c"), draw.cast("long").alias("w"))
        .groupBy("b")
        .agg(F.sum(F.col("w") * F.col("c")).alias("sb"), F.sum("w").alias("nb"))
        # a replicate whose Poisson weights all landed on 0 resamples
        # nothing — undefined mean, dropped (cannot occur beyond toy
        # inputs: P ≈ (1/e)^rows)
        .where(F.col("nb") > 0)
        .select(
            "b",
            F.floor(
                F.col("sb") * 100.0 / F.col("nb").cast("double") + F.lit(0.5)
            )
            .cast("long")
            .alias("mean_c2"),
        )
    )
    ra = rep.select("b", "mean_c2")
    rb = rep.select(F.col("b").alias("b2"), F.col("mean_c2").alias("m2"))
    ranked = (
        ra.join(
            F.broadcast(rb),
            (F.col("m2") < F.col("mean_c2"))
            | ((F.col("m2") == F.col("mean_c2")) & (F.col("b2") < F.col("b"))),
            "left",
        )
        .groupBy("b", "mean_c2")
        .agg(F.count("b2").alias("r0"))
    )
    point = orders.agg(
        F.floor(
            F.sum(cents(F.col("o_totalprice"))) * 100.0
            / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("point_c2")
    )
    ci = ranked.agg(
        F.count(F.lit(1)).alias("n_boot"),
        F.max(F.when(F.col("r0") == 1, F.col("mean_c2"))).alias("lo_c2"),
        F.max(F.when(F.col("r0") == N_BOOT - 2, F.col("mean_c2"))).alias("hi_c2"),
    )
    return ci.join(F.broadcast(point)).select(
        "n_boot", "point_c2", "lo_c2", "hi_c2"
    )


def _stat_bootstrap_ci(spark, sf_dir):
    return bootstrap_ci(t(spark, sf_dir, "orders"))


def _poisson_case_sql(u_expr: str) -> str:
    branches = "".join(
        f" WHEN {u_expr} < {thr} THEN {k}"
        for k, thr in enumerate(POISSON_CUM)
    )
    return f"CASE{branches} ELSE {len(POISSON_CUM)} END"


_BOOT_SQL = f"""
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
         ('0x' || substr(md5('boot:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS s
  FROM orders
),
mx1 AS (
  SELECT b.b, c,
         (xor(s, CAST(b.b AS BIGINT) * {BOOT_MIX_C1}) * {BOOT_MIX_A1})
             % {BOOT_MIX_MOD} AS m1
  FROM base, (SELECT unnest(range(0, {N_BOOT})) AS b) b
),
mx2 AS (
  SELECT b, c,
         (xor(m1, m1 >> 15) * {BOOT_MIX_A2}) % {BOOT_MIX_MOD} AS m2
  FROM mx1
),
uu AS (SELECT b, c, xor(m2, m2 >> 13) % 1000000 AS u FROM mx2),
rep AS (
  SELECT b,
         CAST(floor(
           CAST(sum(({_poisson_case_sql("u")}) * c) AS DOUBLE)
           * 100.0
           / CAST(sum({_poisson_case_sql("u")}) AS DOUBLE)
           + 0.5) AS BIGINT) AS mean_c2
  FROM uu
  GROUP BY b
  HAVING sum({_poisson_case_sql("u")}) > 0
),
ranked AS (
  SELECT a.b, a.mean_c2, CAST(count(x.b) AS BIGINT) AS r0
  FROM rep a LEFT JOIN rep x
    ON x.mean_c2 < a.mean_c2 OR (x.mean_c2 = a.mean_c2 AND x.b < a.b)
  GROUP BY a.b, a.mean_c2
),
point AS (
  SELECT CAST(floor(
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           * 100.0 / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS point_c2
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_boot,
       (SELECT point_c2 FROM point) AS point_c2,
       max(CASE WHEN r0 = 1 THEN mean_c2 END) AS lo_c2,
       max(CASE WHEN r0 = {N_BOOT - 2} THEN mean_c2 END) AS hi_c2
FROM ranked
"""

WRS_TOPK = 50

WRS_WCAP = 8  # weight = 1 + min(n_chars div 64, cap-1)


def weighted_sample(docs, topk: int = WRS_TOPK, wcap: int = WRS_WCAP):
    """Weighted reservoir sampling without replacement (the
    Efraimidis-Spirakis scheme in its EXACT integer form): an item of
    integer weight w races w independent md5 unit-draws and keeps the
    minimum — P(min of w uniforms < t) = 1-(1-t)^w, precisely the
    A-ES inclusion law — and the global sample is the k smallest
    per-item minima.  No logarithm, no float key: selection order is a
    pure int64 hash comparison, so the sample is bit-reproducible
    across engines, retries, and partitionings (the property RNG-based
    weighted sampling cannot give).

    Weights derive from doc length (1 + n_chars div 64, capped): the
    length-proportional sampling a token-budget curator uses.

    Scale shape: the unit explode is bounded by the weight CAP (a
    constant), the per-doc min rides the same map-side combine, and
    the global top-k is TakeOrderedAndProject — no global sort, no
    window."""
    w = (
        docs.select(
            "doc_id",
            (
                F.lit(1)
                + F.least(
                    F.floor(F.col("n_chars") / 64), F.lit(wcap - 1)
                )
            ).cast("long").alias("w"),
        )
    )
    units = w.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(1), F.col("w"))).alias("j"),
    )
    hmin = (
        units.select(
            "doc_id",
            "w",
            token_hash(
                F.concat(
                    F.lit("wrs:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("j").cast("string"),
                )
            ).alias("h"),
        )
        .groupBy("doc_id", "w")
        .agg(F.min("h").alias("hmin"))
    )
    top = hmin.orderBy(F.col("hmin"), F.col("doc_id")).limit(topk)
    t2 = top.select(F.col("hmin").alias("h2"), F.col("doc_id").alias("d2"))
    return (
        top.join(
            F.broadcast(t2),
            (F.col("h2") < F.col("hmin"))
            | ((F.col("h2") == F.col("hmin")) & (F.col("d2") < F.col("doc_id"))),
            "left",
        )
        .groupBy("doc_id", "w", "hmin")
        .agg((F.count("d2") + 1).alias("rnk"))
        .orderBy("rnk")
    )


def _sample_weighted_units(spark, sf_dir):
    return weighted_sample(t(spark, sf_dir, "documents"))


_WRS_SQL = f"""
WITH w AS (
  SELECT doc_id,
         CAST(1 + least(n_chars // 64, {WRS_WCAP - 1}) AS BIGINT) AS w
  FROM documents
),
units AS (
  SELECT doc_id, w, u.j
  FROM w, LATERAL (SELECT unnest(range(1, w + 1)) AS j) u
),
hmin AS (
  SELECT doc_id, w,
         min(('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR) || ':'
              || CAST(j AS VARCHAR)), 1, 8))::BIGINT) AS hmin
  FROM units GROUP BY doc_id, w
),
top AS (SELECT * FROM hmin ORDER BY hmin, doc_id LIMIT {WRS_TOPK})
SELECT a.doc_id, a.w, a.hmin, CAST(1 + count(b.doc_id) AS BIGINT) AS rnk
FROM top a LEFT JOIN top b
  ON b.hmin < a.hmin OR (b.hmin = a.hmin AND b.doc_id < a.doc_id)
GROUP BY a.doc_id, a.w, a.hmin
ORDER BY rnk
"""

N_PERM = 128  # hash permutations


def permutation_test(events, n_perm: int = N_PERM):
    """Hash-randomization test for the A/B mean difference (the
    permutation-test variant where each row's arm flips by an md5 bit
    per replicate — exchangeable under the null, and REPRODUCIBLE,
    the same argument as the Poisson bootstrap).  The test statistic
    |mean_A − mean_B| is micro-quantized from exact integer sums per
    replicate; the p-value is the add-one rank of the observed
    statistic among the replicates — pure integer comparison.

    Scale shape: the n_perm× explode collapses to 2·n_perm aggregate
    rows via map-side combine; the observed statistic rides in as a
    broadcast 1-row aggregate."""
    base = events.where(F.col("event_type").isin(KS_A, KS_B)).select(
        F.col("event_id").cast("string").alias("k"),
        (F.col("event_type") == KS_A).cast("int").alias("is_a"),
        cents(F.col("value")).alias("c"),
    )

    def t_micro(sa, na, sb, nb):
        # a replicate that flips every row into one arm has no mean
        # difference to measure — NULL, excluded (cannot occur beyond
        # toy inputs: P = 2^-rows per replicate)
        return F.when(
            (na > 0) & (nb > 0),
            F.floor(
                F.abs(
                    sa.cast("double") / na.cast("double")
                    - sb.cast("double") / nb.cast("double")
                )
                * 10000
                + F.lit(0.5)
            ).cast("long"),
        )

    obs = base.agg(
        t_micro(
            F.sum(F.when(F.col("is_a") == 1, F.col("c")).otherwise(0)),
            F.sum("is_a"),
            F.sum(F.when(F.col("is_a") == 0, F.col("c")).otherwise(0)),
            F.sum(1 - F.col("is_a")),
        ).alias("t_obs")
    )
    # one md5 per ROW serves all replicates: the 128-bit digest is four
    # 32-bit segments, and replicate p's flip is bit (p mod 32) of
    # segment (p div 32). The segments are hoisted into a projection
    # BELOW the explode (r8): expressed inside the exploded select, the
    # md5 re-evaluated once per (row, replicate) — 128x per row, this
    # key's entire hot path; computed per INPUT row and carried through
    # Generate as a 4-long array, the exploded loop is pure int64
    # codegen. Bit stream identical, so the oracle is unchanged.
    assert n_perm <= 128
    digest = F.md5(F.concat(F.lit("perm:"), F.col("k")))
    segs = F.array(
        *[
            F.conv(F.substring(digest, 1 + i * 8, 8), 16, 10).cast("long")
            for i in range(4)
        ]
    )
    flip = F.expr("(segs[p div 32] >> (p % 32)) & 1") == 1
    reps = (
        base.select("is_a", "c", segs.alias("segs"))
        .select(
            "is_a", "c", "segs",
            F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias("p"),
        )
        .select(
            "p",
            "c",
            F.when(flip, 1 - F.col("is_a")).otherwise(F.col("is_a")).alias("arm"),
        )
        .groupBy("p")
        .agg(
            t_micro(
                F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0)),
                F.sum("arm"),
                F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0)),
                F.sum(1 - F.col("arm")),
            ).alias("t_p")
        )
    )
    reps = reps.where(F.col("t_p").isNotNull())
    summary = reps.join(F.broadcast(obs)).agg(
        F.count(F.lit(1)).alias("n_perm"),
        F.max("t_obs").alias("t_obs_micro"),
        F.sum((F.col("t_p") >= F.col("t_obs")).cast("long")).alias("n_ge"),
    )
    return summary.select(
        "n_perm",
        "t_obs_micro",
        "n_ge",
        (
            F.floor(
                (F.col("n_ge") + 1).cast("double")
                / (F.col("n_perm") + 1).cast("double")
                * 1000000000
                + F.lit(0.5)
            ).cast("long")
        ).alias("p9"),
    )


def _stat_permutation_test(spark, sf_dir):
    return permutation_test(t(spark, sf_dir, "events"))


def _perm_flip_sql() -> str:
    return (
        "((('0x' || substr(md5('perm:' || base.k),"
        " 1 + (p.p // 32) * 8, 8))::BIGINT >> (p.p % 32)) & 1) = 1"
    )


_PERM_SQL = f"""
WITH base AS (
  SELECT CAST(event_id AS VARCHAR) AS k,
         CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS is_a,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
),
obs AS (
  SELECT CAST(floor(abs(
           CAST(sum(CASE WHEN is_a = 1 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(is_a) AS DOUBLE)
           - CAST(sum(CASE WHEN is_a = 0 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(1 - is_a) AS DOUBLE)
         ) * 10000 + 0.5) AS BIGINT) AS t_obs
  FROM base
),
reps AS (
  SELECT p.p,
         CAST(floor(abs(
           CAST(sum(CASE WHEN (CASE WHEN {_perm_flip_sql()} THEN 1 - is_a ELSE is_a END) = 1 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN {_perm_flip_sql()} THEN 1 - is_a ELSE is_a END) AS DOUBLE)
           - CAST(sum(CASE WHEN (CASE WHEN {_perm_flip_sql()} THEN 1 - is_a ELSE is_a END) = 0 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(1 - (CASE WHEN {_perm_flip_sql()} THEN 1 - is_a ELSE is_a END)) AS DOUBLE)
         ) * 10000 + 0.5) AS BIGINT) AS t_p
  FROM base, (SELECT unnest(range(0, {N_PERM})) AS p) p
  GROUP BY p.p
  HAVING sum(CASE WHEN {_perm_flip_sql()} THEN 1 - is_a ELSE is_a END) > 0
     AND sum(CASE WHEN {_perm_flip_sql()} THEN 1 - is_a ELSE is_a END) < count(*)
)
SELECT CAST(count(*) AS BIGINT) AS n_perm,
       max(t_obs) AS t_obs_micro,
       CAST(sum(CASE WHEN t_p >= t_obs THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       CAST(floor(CAST(sum(CASE WHEN t_p >= t_obs THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                  / CAST(count(*) + 1 AS DOUBLE) * 1000000000 + 0.5) AS BIGINT) AS p9
FROM reps, obs
GROUP BY t_obs
"""


def multiple_regression(orders):
    """Two-predictor OLS (y = order value in cents; x1 = order month,
    x2 = priority rank) solved by Cramer's rule on the normal
    equations — the closed form that needs ONLY the six integer moment
    sums of one map-side-combinable aggregate (the multi-feature
    upgrade of agg_linear_fit).  Determinants are IEEE doubles of
    exact int64 moments (identical expression tree both engines);
    betas quantize at the very end.  One scan, 1-row result."""
    x1 = F.month("o_orderdate").cast("long")
    x2 = F.substring("o_orderpriority", 1, 1).cast("long")
    y = cents(F.col("o_totalprice"))
    m = orders.select(
        x1.alias("x1"), x2.alias("x2"), y.alias("y")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )

    def d(c):
        return F.col(c).cast("double")

    def det3(a, b, c, p, q, r, u, v, w):
        return (
            a * (q * w - r * v) - b * (p * w - r * u) + c * (p * v - q * u)
        )

    dd = det3(d("n"), d("s1"), d("s2"), d("s1"), d("s11"), d("s12"), d("s2"), d("s12"), d("s22"))
    d0 = det3(d("sy"), d("s1"), d("s2"), d("s1y"), d("s11"), d("s12"), d("s2y"), d("s12"), d("s22"))
    d1 = det3(d("n"), d("sy"), d("s2"), d("s1"), d("s1y"), d("s12"), d("s2"), d("s2y"), d("s22"))
    d2 = det3(d("n"), d("s1"), d("sy"), d("s1"), d("s11"), d("s1y"), d("s2"), d("s12"), d("s2y"))
    q6 = lambda x: F.floor(x * 1000000 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return m.select(
        "n",
        q6(d0 / dd).alias("beta0_6"),
        q6(d1 / dd).alias("beta1_6"),
        q6(d2 / dd).alias("beta2_6"),
    )


def _stat_multiple_regression(spark, sf_dir):
    return multiple_regression(t(spark, sf_dir, "orders"))


_MREG_SQL = """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y
  FROM (
    SELECT CAST(month(o_orderdate) AS BIGINT) AS x1,
           CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x2,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
    FROM orders
  )
)
SELECT n,
  floor((CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
       + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)))
      / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
      * 1000000 + 0.5) / 1000000.0 AS beta0_6,
  floor((CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
       - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)))
      / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
      * 1000000 + 0.5) / 1000000.0 AS beta1_6,
  floor((CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
       + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
      / (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
       - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
       + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
      * 1000000 + 0.5) / 1000000.0 AS beta2_6
FROM m
"""

BAL_K = 500  # per-class sample budget


def class_balance_sample(events, k: int = BAL_K):
    """Class-balanced sampling to a fixed per-class budget: each
    event_type keeps its ``k`` smallest rows by (md5 hash, id) — the
    deterministic, retry-stable analog of per-class random
    downsampling, selected through the SALTED two-level grouped_topk
    (ops/scale.py) so a whale class never funnels through one reducer.
    Classes below budget keep everything (the standard rule).

    Output is the selected (class, id, h) rows themselves — the
    manifest a training job joins against — so the oracle's hash match
    proves the exact selection set, not just its size."""
    from .ops.scale import grouped_topk

    base = events.select(
        "event_type",
        "event_id",
        token_hash(
            F.concat(F.lit("bal:"), F.col("event_id").cast("string"))
        ).alias("h"),
    )
    picked = grouped_topk(
        base, "event_type", [("h", "asc"), ("event_id", "asc")], k
    )
    return picked.select("event_type", "event_id", "h").orderBy(
        "event_type", "h", "event_id"
    )


def _sample_class_balance(spark, sf_dir):
    return class_balance_sample(t(spark, sf_dir, "events"))


_BAL_SQL = f"""
WITH base AS (
  SELECT event_type, event_id,
         ('0x' || substr(md5('bal:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM events
),
ranked AS (
  SELECT event_type, event_id, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
  FROM base
)
SELECT event_type, event_id, h FROM ranked WHERE rn <= {BAL_K}
ORDER BY event_type, h, event_id
"""


def anova_oneway(events):
    """One-way ANOVA of value by event_type: between/within sums of
    squares from the per-group integer moments, each group's term
    micro-quantized to int64 BEFORE the cross-group sum (the fold-order
    rule), F assembled from the integer totals at the end.  One
    map-side-combinable scan; the grand mean rides as a broadcast
    1-row aggregate."""
    vals = events.select("event_type", cents(F.col("value")).alias("c"))
    g = vals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts"), F.count(F.lit(1)).alias("k")
    )
    j = g.join(F.broadcast(tot))
    mu = F.col("ts").cast("double") / F.col("tn").cast("double")
    mean_g = F.col("s").cast("double") / F.col("n").cast("double")
    ssb_term = F.col("n").cast("double") * (mean_g - mu) * (mean_g - mu)
    ssw_term = (
        (F.col("q") * F.col("n") - F.col("s") * F.col("s")).cast("double")
        / F.col("n").cast("double")
    )
    per = j.select(
        "tn",
        "k",
        F.floor(ssb_term / 10000.0 + F.lit(0.5)).cast("long").alias("ssb_u"),
        F.floor(ssw_term / 10000.0 + F.lit(0.5)).cast("long").alias("ssw_u"),
    )
    agg = per.groupBy("tn", "k").agg(
        F.sum("ssb_u").alias("ssb"), F.sum("ssw_u").alias("ssw")
    )
    # a zero within-group sum of squares (all groups constant) leaves F
    # undefined — NULL, mirrored in the oracle (ANSI mode rejects the
    # IEEE inf shortcut)
    f6 = F.when(
        (F.col("ssw") == 0) | (F.col("tn") <= F.col("k")), F.lit(None)
    ).otherwise(
        F.floor(
            (F.col("ssb").cast("double") / (F.col("k") - 1).cast("double"))
            / (
                F.col("ssw").cast("double")
                / (F.col("tn") - F.col("k")).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        )
        / 1000000.0
    )
    return agg.select(
        F.col("k").alias("n_groups"),
        F.col("tn").alias("n"),
        F.col("ssb").alias("ssb_cents2_e4"),
        F.col("ssw").alias("ssw_cents2_e4"),
        f6.alias("f6"),
    )


def _stat_anova_oneway(spark, sf_dir):
    return anova_oneway(t(spark, sf_dir, "events"))


_ANOVA_SQL = """
WITH vals AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
  FROM vals GROUP BY event_type
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts,
         CAST(count(*) AS BIGINT) AS k
  FROM g
),
per AS (
  SELECT tn, k,
         CAST(floor(CAST(n AS DOUBLE)
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
            / 10000.0 + 0.5) AS BIGINT) AS ssb_u,
         CAST(floor(CAST(q * n - s * s AS DOUBLE) / CAST(n AS DOUBLE)
            / 10000.0 + 0.5) AS BIGINT) AS ssw_u
  FROM g, tot
),
agg AS (
  SELECT tn, k, CAST(sum(ssb_u) AS BIGINT) AS ssb,
         CAST(sum(ssw_u) AS BIGINT) AS ssw
  FROM per GROUP BY tn, k
)
SELECT k AS n_groups, tn AS n, ssb AS ssb_cents2_e4, ssw AS ssw_cents2_e4,
       CASE WHEN ssw = 0 OR tn <= k THEN NULL
            ELSE floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                       / (CAST(ssw AS DOUBLE) / CAST(tn - k AS DOUBLE))
                       * 1000000 + 0.5) / 1000000.0
       END AS f6
FROM agg
"""


def welch_ttest(events):
    """Welch's unequal-variance t for the A/B arms (the robust default
    over Student's t): t and the Welch-Satterthwaite df from the two
    groups' integer moments — one fixed expression tree, no cross-group
    float fold at all.  Single scan, 1-row result."""
    vals = events.where(F.col("event_type").isin(KS_A, KS_B)).select(
        (F.col("event_type") == KS_A).cast("int").alias("is_a"),
        cents(F.col("value")).alias("c"),
    )
    m = vals.agg(
        F.sum("is_a").alias("na"),
        F.sum(F.when(F.col("is_a") == 1, F.col("c")).otherwise(0)).alias("sa"),
        F.sum(
            F.when(F.col("is_a") == 1, F.col("c") * F.col("c")).otherwise(0)
        ).alias("qa"),
        F.sum(1 - F.col("is_a")).alias("nb"),
        F.sum(F.when(F.col("is_a") == 0, F.col("c")).otherwise(0)).alias("sb"),
        F.sum(
            F.when(F.col("is_a") == 0, F.col("c") * F.col("c")).otherwise(0)
        ).alias("qb"),
    )

    def d(c):
        return F.col(c).cast("double")

    va = (d("qa") * d("na") - d("sa") * d("sa")) / (
        d("na") * d("na") * (d("na") - 1)
    )
    vb = (d("qb") * d("nb") - d("sb") * d("sb")) / (
        d("nb") * d("nb") * (d("nb") - 1)
    )
    tstat = (d("sa") / d("na") - d("sb") / d("nb")) / F.sqrt(va + vb)
    dfw = (va + vb) * (va + vb) / (
        va * va / (d("na") - 1) + vb * vb / (d("nb") - 1)
    )
    q6 = lambda x: F.floor(x * 1000000 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return m.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        q6(tstat).alias("t6"),
        q6(dfw).alias("df6"),
    )


def _stat_welch_ttest(spark, sf_dir):
    return welch_ttest(t(spark, sf_dir, "events"))


_WELCH_SQL = f"""
WITH vals AS (
  SELECT CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS is_a,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
),
m AS (
  SELECT CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(CASE WHEN is_a = 1 THEN c ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN is_a = 1 THEN c * c ELSE 0 END) AS BIGINT) AS qa,
         CAST(sum(1 - is_a) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN is_a = 0 THEN c ELSE 0 END) AS BIGINT) AS sb,
         CAST(sum(CASE WHEN is_a = 0 THEN c * c ELSE 0 END) AS BIGINT) AS qb
  FROM vals
)
SELECT na AS n_a, nb AS n_b,
  floor((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
         - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
        / sqrt((CAST(qa * na - sa * sa AS DOUBLE)
                / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)))
               + (CAST(qb * nb - sb * sb AS DOUBLE)
                  / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))))
        * 1000000 + 0.5) / 1000000.0 AS t6,
  floor(((CAST(qa * na - sa * sa AS DOUBLE)
          / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)))
         + (CAST(qb * nb - sb * sb AS DOUBLE)
            / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))))
        * ((CAST(qa * na - sa * sa AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)))
           + (CAST(qb * nb - sb * sb AS DOUBLE)
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))))
        / ((CAST(qa * na - sa * sa AS DOUBLE)
            / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)))
           * (CAST(qa * na - sa * sa AS DOUBLE)
              / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE)))
           / CAST(na - 1 AS DOUBLE)
           + (CAST(qb * nb - sb * sb AS DOUBLE)
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)))
           * (CAST(qb * nb - sb * sb AS DOUBLE)
              / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)))
           / CAST(nb - 1 AS DOUBLE))
        * 1000000 + 0.5) / 1000000.0 AS df6
FROM m
"""

ML_THRESHOLDS = (500, 1000, 2000, 4000, 6000, 8000, 12000, 20000)

ML_POS = "click"

ML_NEG = "view"


def _pos_neg_grain(events):
    """Distinct-score-grain counts (v, pos_cnt, neg_cnt) with broadcast
    totals (n_pos, n_neg) attached — the shared input of the evaluation
    family. One shuffle keyed on the bounded score domain."""
    pn = events.where(F.col("event_type").isin(ML_POS, ML_NEG)).select(
        cents(F.col("value")).alias("v"),
        F.when(F.col("event_type") == ML_POS, 1).otherwise(0).alias("p"),
        F.when(F.col("event_type") == ML_NEG, 1).otherwise(0).alias("n"),
    )
    g = pn.groupBy("v").agg(
        F.sum("p").alias("pos_cnt"), F.sum("n").alias("neg_cnt")
    )
    tot = g.agg(
        F.sum("pos_cnt").alias("n_pos"), F.sum("neg_cnt").alias("n_neg")
    )
    return g.join(F.broadcast(tot))


def threshold_sweep(events, thresholds=ML_THRESHOLDS):
    """Confusion-matrix sweep: TP/FP/FN/TN and micro-quantized
    precision/recall/F1/accuracy at each literal score threshold
    (predict positive when score >= T) — the operating-point table
    behind every curation-rule tuning decision.

    All metrics are PURE integer arithmetic (floor division on int64
    counts); nothing float ever crosses an aggregate. Scale shape: the
    distinct-score grain expands by the fixed |thresholds| factor and
    collapses immediately to one row per threshold — bounded by the
    score domain, never the row count."""
    g = _pos_neg_grain(events)
    thr = F.explode(
        F.array([F.lit(x).cast("long") for x in thresholds])
    ).alias("thr_cents")
    per = g.select("v", "pos_cnt", "neg_cnt", "n_pos", "n_neg", thr)
    agg = per.groupBy("thr_cents", "n_pos", "n_neg").agg(
        F.sum(F.when(F.col("v") >= F.col("thr_cents"), F.col("pos_cnt")).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("v") >= F.col("thr_cents"), F.col("neg_cnt")).otherwise(0)).alias("fp"),
    )
    return agg.select(
        "thr_cents",
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        (F.col("n_neg") - F.col("fp")).alias("tn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("(1000000 * tp) div (tp + fp)"),
        ).alias("precision_micro"),
        F.expr("(1000000 * tp) div n_pos").alias("recall_micro"),
        F.when(
            2 * F.col("tp") + (F.col("n_pos") - F.col("tp")) + F.col("fp") > 0,
            F.expr("(2000000 * tp) div (2 * tp + (n_pos - tp) + fp)"),
        ).alias("f1_micro"),
        F.expr(
            "(1000000 * (tp + (n_neg - fp))) div (n_pos + n_neg)"
        ).alias("accuracy_micro"),
    ).orderBy("thr_cents")


def _ml_threshold_sweep(spark, sf_dir):
    return threshold_sweep(t(spark, sf_dir, "events"))


_PN_CTE = f"""
pn AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN event_type = '{ML_POS}' THEN 1 ELSE 0 END AS p,
         CASE WHEN event_type = '{ML_NEG}' THEN 1 ELSE 0 END AS n
  FROM events WHERE event_type IN ('{ML_POS}', '{ML_NEG}')
),
g AS (
  SELECT v, CAST(sum(p) AS BIGINT) AS pos_cnt,
         CAST(sum(n) AS BIGINT) AS neg_cnt
  FROM pn GROUP BY v
),
tot AS (
  SELECT CAST(sum(pos_cnt) AS BIGINT) AS n_pos,
         CAST(sum(neg_cnt) AS BIGINT) AS n_neg
  FROM g
)
"""

_THR_LIST = ", ".join(f"CAST({x} AS BIGINT)" for x in ML_THRESHOLDS)

_THR_SQL = f"""
WITH {_PN_CTE},
per AS (
  SELECT g.*, tot.n_pos, tot.n_neg, u.thr_cents
  FROM g, tot, unnest([{_THR_LIST}]) AS u(thr_cents)
),
agg AS (
  SELECT thr_cents, n_pos, n_neg,
         CAST(sum(CASE WHEN v >= thr_cents THEN pos_cnt ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN v >= thr_cents THEN neg_cnt ELSE 0 END) AS BIGINT) AS fp
  FROM per GROUP BY 1, 2, 3
)
SELECT thr_cents, tp, fp,
       n_pos - tp AS fn, n_neg - fp AS tn,
       CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END
           AS precision_micro,
       (1000000 * tp) // n_pos AS recall_micro,
       CASE WHEN 2 * tp + (n_pos - tp) + fp > 0
            THEN (2000000 * tp) // (2 * tp + (n_pos - tp) + fp) END
           AS f1_micro,
       (1000000 * (tp + (n_neg - fp))) // (n_pos + n_neg) AS accuracy_micro
FROM agg ORDER BY thr_cents
"""


def lift_gains(events):
    """Decile lift/gains table: rank the scored population by score
    descending, split into 10 rank deciles (a tied score group lands
    wholly in the decile of its last member — deterministic on both
    engines), and report per-decile positives, cumulative gains, and
    lift vs the base rate — the campaign-targeting curve.

    Exactness: decile assignment and gains are pure int64; lift is the
    one quantized division, computed double-from-exact-ints so it can
    never overflow at any scale. Scale shape: descending cumulative
    counts come from the ascending distinct-score grain by reflection
    (n_tot - cum + group), the decile collapse is a 10-row aggregate,
    and the cumulative-over-deciles step is a triangular self-join of
    the 10-row table — no partition-less window anywhere."""
    g = _pos_neg_grain(events)
    # ascending cumulative totals at the distinct-score grain via the
    # coarse-bucket hierarchical prefix (value domain-bounded)
    g = g.withColumn("bkt", F.floor(F.col("v") / 4096))
    w = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g.select(
        "v", "bkt", "pos_cnt", "neg_cnt", "n_pos", "n_neg",
        F.sum(F.col("pos_cnt") + F.col("neg_cnt")).over(w).alias("c_in"),
    )
    btot = g.groupBy("bkt").agg(
        F.sum(F.col("pos_cnt") + F.col("neg_cnt")).alias("bn")
    )
    offs = (
        btot.select(F.col("bkt").alias("k"))
        .join(btot.select(F.col("bkt").alias("k2"), "bn"), F.col("k2") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("bn").alias("off"))
    )
    cum = within.join(F.broadcast(offs), within.bkt == offs.k, "left").select(
        "v", "pos_cnt", "neg_cnt", "n_pos", "n_neg",
        (F.col("c_in") + F.coalesce("off", F.lit(0))).alias("cum_le"),
    )
    dec = cum.select(
        "pos_cnt", "neg_cnt", "n_pos", "n_neg",
        F.expr(
            "((n_pos + n_neg - cum_le + pos_cnt + neg_cnt - 1) * 10)"
            " div (n_pos + n_neg)"
        ).alias("decile"),
    )
    per = dec.groupBy("decile", "n_pos", "n_neg").agg(
        F.sum(F.col("pos_cnt") + F.col("neg_cnt")).alias("n"),
        F.sum("pos_cnt").alias("pos"),
    )
    cumd = (
        per.select(F.col("decile").alias("d"), "n_pos", "n_neg", "n", "pos")
        .join(
            F.broadcast(
                per.select(
                    F.col("decile").alias("d2"), F.col("pos").alias("p2")
                )
            ),
            F.col("d2") <= F.col("d"),
        )
        .groupBy("d", "n_pos", "n_neg", "n", "pos")
        .agg(F.sum("p2").alias("cum_pos"))
    )
    return cumd.select(
        F.col("d").alias("decile"),
        "n",
        "pos",
        "cum_pos",
        F.expr("(1000000 * cum_pos) div n_pos").alias("gain_micro"),
        (
            F.floor(
                F.col("pos").cast("double")
                * (F.col("n_pos") + F.col("n_neg")).cast("double")
                / (F.col("n").cast("double") * F.col("n_pos").cast("double"))
                * 1000000
                + F.lit(0.5)
            )
        ).alias("lift_micro"),
    ).orderBy("decile")


def _ml_lift_gains(spark, sf_dir):
    return lift_gains(t(spark, sf_dir, "events"))


_LIFT_SQL = f"""
WITH {_PN_CTE},
cum AS (
  SELECT v, pos_cnt, neg_cnt,
         CAST(sum(pos_cnt + neg_cnt) OVER (ORDER BY v) AS BIGINT) AS cum_le
  FROM g
),
dec AS (
  SELECT pos_cnt, neg_cnt,
         ((n_pos + n_neg - cum_le + pos_cnt + neg_cnt - 1) * 10)
             // (n_pos + n_neg) AS decile,
         n_pos, n_neg
  FROM cum, tot
),
per AS (
  SELECT decile, n_pos, n_neg,
         CAST(sum(pos_cnt + neg_cnt) AS BIGINT) AS n,
         CAST(sum(pos_cnt) AS BIGINT) AS pos
  FROM dec GROUP BY 1, 2, 3
),
cumd AS (
  SELECT a.decile, a.n_pos, a.n_neg, a.n, a.pos,
         CAST(sum(b.pos) AS BIGINT) AS cum_pos
  FROM per a JOIN per b ON b.decile <= a.decile
  GROUP BY 1, 2, 3, 4, 5
)
SELECT decile, n, pos, cum_pos,
       (1000000 * cum_pos) // n_pos AS gain_micro,
       CAST(floor(CAST(pos AS DOUBLE) * CAST(n_pos + n_neg AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n_pos AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS lift_micro
FROM cumd ORDER BY decile
"""

CALIB_BIN_CENTS = 4000

CALIB_MAX_BIN = 9


def calibration_bins(events, width: int = CALIB_BIN_CENTS):
    """Calibration/reliability table: equal-width score bins (top bin
    open-ended), empirical positive rate per bin vs the global base
    rate, and the signed gap — how far the score is from being a
    calibrated probability proxy per region of its range.

    Pure integer rates (micro floor-division); one scan to the bounded
    bin grain plus a broadcast 1-row base rate."""
    pn = events.where(F.col("event_type").isin(ML_POS, ML_NEG)).select(
        F.least(
            F.floor(cents(F.col("value")) / width), F.lit(CALIB_MAX_BIN)
        ).cast("long").alias("bin"),
        F.when(F.col("event_type") == ML_POS, 1).otherwise(0).alias("p"),
    )
    per = pn.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("pos")
    )
    tot = per.agg(
        F.sum("n").alias("n_tot"), F.sum("pos").alias("pos_tot")
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "pos",
            F.expr("(1000000 * pos) div n").alias("rate_micro"),
            F.expr("(1000000 * pos_tot) div n_tot").alias("base_micro"),
            (
                F.expr("(1000000 * pos) div n")
                - F.expr("(1000000 * pos_tot) div n_tot")
            ).alias("gap_micro"),
        )
        .orderBy("bin")
    )


def _ml_calibration_bins(spark, sf_dir):
    return calibration_bins(t(spark, sf_dir, "events"))


_CALIB_SQL = f"""
WITH pn AS (
  SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT) // {CALIB_BIN_CENTS},
               {CALIB_MAX_BIN}) AS bin,
         CASE WHEN event_type = '{ML_POS}' THEN 1 ELSE 0 END AS p
  FROM events WHERE event_type IN ('{ML_POS}', '{ML_NEG}')
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS pos
  FROM pn GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(pos) AS BIGINT) AS pos_tot
  FROM per
)
SELECT bin, n, pos,
       (1000000 * pos) // n AS rate_micro,
       (1000000 * pos_tot) // n_tot AS base_micro,
       (1000000 * pos) // n - (1000000 * pos_tot) // n_tot AS gap_micro
FROM per, tot ORDER BY bin
"""

NB_SMOOTH = 1  # add-1 Laplace


def naive_bayes_confusion(docs):
    """Multinomial naive Bayes trained on even doc_ids (source as the
    class label, whitespace tokens as features, add-1 smoothing) and
    applied to odd doc_ids; output is the test confusion matrix — the
    model-based source-attribution QA a curation pipeline runs to
    detect label leakage or source drift.

    Exactness: each log-likelihood term ln((cnt+1)/(n_c+V)) is computed
    from exact int64 counts and micro-nat-quantized PER TERM before the
    integer (count-weighted) per-doc sum, and the class prior joins the
    same way — the argmax compares identical int64 scores on both
    engines (ties break to the smallest class index).

    Scale shape: the model is (class x vocab) — charset/vocabulary-
    bounded, hence broadcastable; training is one shuffle to the
    (class, token) grain; scoring fans the (doc, token) grain out by
    the bounded class count through broadcast joins and collapses with
    one doc-grain aggregate. No windows, no row-grain joins."""
    toks = docs.select(
        "doc_id",
        F.substring("source", 4, 8).cast("int").alias("src_idx"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    train = toks.where(F.col("doc_id") % 2 == 0)
    test = toks.where(F.col("doc_id") % 2 == 1)

    tc = train.groupBy("src_idx", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    # NOTE (r12, measured): truncating lineage at the (class x vocab)
    # grain — bounded, three consumers — A/B'd 1.13 (5 reps, same
    # sitting): the eager materialization job costs more than the
    # re-derived training tokenize+count at this corpus size. Left
    # live; the §27 dominance bound decides, not the consumer count.
    ct = tc.groupBy("src_idx").agg(F.sum("cnt").alias("n_tok_c"))
    vocab = tc.select("tok").distinct().agg(F.count(F.lit(1)).alias("vv"))
    prior = (
        train.select("doc_id", "src_idx")
        .distinct()
        .groupBy("src_idx")
        .agg(F.count(F.lit(1)).alias("n_docs_c"))
    )
    n_train = prior.agg(F.sum("n_docs_c").alias("n_train"))

    dt = test.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c_t"))
    classes = ct.select("src_idx", "n_tok_c")
    grid = (
        dt.join(F.broadcast(classes.select(F.col("src_idx").alias("cls"), "n_tok_c")))
        .join(
            F.broadcast(tc.select(F.col("src_idx").alias("cls"), "tok", "cnt")),
            ["cls", "tok"],
            "left",
        )
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "cls",
            (
                F.col("c_t")
                * F.floor(
                    F.log(
                        (F.coalesce("cnt", F.lit(0)) + NB_SMOOTH).cast("double")
                        / (F.col("n_tok_c") + F.col("vv")).cast("double")
                    )
                    * 1000000
                    + F.lit(0.5)
                ).cast("long")
            ).alias("term_micro"),
        )
    )
    scores = grid.groupBy("doc_id", "cls").agg(
        F.sum("term_micro").alias("ll_micro")
    )
    prior_m = (
        prior.join(F.broadcast(n_train))
        .select(
            F.col("src_idx").alias("cls"),
            F.floor(
                F.log(
                    F.col("n_docs_c").cast("double")
                    / F.col("n_train").cast("double")
                )
                * 1000000
                + F.lit(0.5)
            ).cast("long").alias("prior_micro"),
        )
    )
    total = scores.join(F.broadcast(prior_m), "cls").select(
        "doc_id",
        "cls",
        (F.col("ll_micro") + F.col("prior_micro")).alias("score_micro"),
    )
    pred = total.groupBy("doc_id").agg(
        F.max(
            F.struct(F.col("score_micro"), (-F.col("cls")).alias("nc"))
        ).alias("m")
    ).select("doc_id", (-F.col("m.nc")).alias("pred_idx"))
    truth = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.substring("source", 4, 8).cast("int").alias("true_idx")
    )
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_idx", "pred_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("src"), F.col("true_idx").cast("string")).alias(
                "true_source"
            ),
            F.concat(F.lit("src"), F.col("pred_idx").cast("string")).alias(
                "pred_source"
            ),
            "n",
        )
        .orderBy("true_source", "pred_source")
    )


def _ml_naive_bayes(spark, sf_dir):
    return naive_bayes_confusion(t(spark, sf_dir, "documents"))


_NB_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(substr(source, 4, 8) AS INTEGER) AS src_idx,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
),
train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
test AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
tc AS (
  SELECT src_idx, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM train GROUP BY 1, 2
),
ct AS (
  SELECT src_idx, CAST(sum(cnt) AS BIGINT) AS n_tok_c FROM tc GROUP BY 1
),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vv FROM tc),
prior AS (
  SELECT src_idx, CAST(count(*) AS BIGINT) AS n_docs_c
  FROM (SELECT DISTINCT doc_id, src_idx FROM train) GROUP BY 1
),
n_train AS (SELECT CAST(sum(n_docs_c) AS BIGINT) AS n_train FROM prior),
dt AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c_t
  FROM test GROUP BY 1, 2
),
grid AS (
  SELECT dt.doc_id, ct.src_idx AS cls,
         c_t * CAST(floor(
           ln(CAST(COALESCE(tc.cnt, 0) + {NB_SMOOTH} AS DOUBLE)
              / CAST(ct.n_tok_c + vocab.vv AS DOUBLE)) * 1000000 + 0.5
         ) AS BIGINT) AS term_micro
  FROM dt
  CROSS JOIN ct
  LEFT JOIN tc ON tc.src_idx = ct.src_idx AND tc.tok = dt.tok
  CROSS JOIN vocab
),
scores AS (
  SELECT doc_id, cls, CAST(sum(term_micro) AS BIGINT) AS ll_micro
  FROM grid GROUP BY 1, 2
),
prior_m AS (
  SELECT src_idx AS cls,
         CAST(floor(ln(CAST(n_docs_c AS DOUBLE) / CAST(n_train AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS prior_micro
  FROM prior, n_train
),
total AS (
  SELECT doc_id, cls, ll_micro + prior_micro AS score_micro
  FROM scores JOIN prior_m USING (cls)
),
best AS (
  SELECT doc_id, max(score_micro) AS ms FROM total GROUP BY doc_id
),
pred AS (
  SELECT t.doc_id, min(t.cls) AS pred_idx
  FROM total t JOIN best b ON t.doc_id = b.doc_id AND t.score_micro = b.ms
  GROUP BY t.doc_id
),
truth AS (
  SELECT doc_id, CAST(substr(source, 4, 8) AS INTEGER) AS true_idx
  FROM documents WHERE doc_id % 2 = 1
)
SELECT 'src' || CAST(true_idx AS VARCHAR) AS true_source,
       'src' || CAST(pred_idx AS VARCHAR) AS pred_source,
       CAST(count(*) AS BIGINT) AS n
FROM truth JOIN pred USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""

KFOLD_K = 5


def kfold_assign(events, k: int = KFOLD_K):
    """Deterministic k-fold cross-validation assignment manifest: fold
    = md5-hash of the row key mod k, reported as per-(fold, class)
    counts with the fold-internal class share — the split audit that
    proves folds are balanced and assignment is reproducible across
    engines and reruns. One scan to the (k x classes)-bounded grain."""
    per = (
        events.select(
            (
                token_hash(F.concat(F.lit("kf:"), F.col("event_id").cast("string")))
                % k
            ).alias("fold"),
            "event_type",
        )
        .groupBy("fold", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ftot = per.groupBy("fold").agg(F.sum("n").alias("fold_n"))
    return (
        per.join(F.broadcast(ftot), "fold")
        .select(
            "fold",
            "event_type",
            "n",
            "fold_n",
            F.expr("(1000000 * n) div fold_n").alias("share_micro"),
        )
        .orderBy("fold", "event_type")
    )


def _sample_kfold_assign(spark, sf_dir):
    return kfold_assign(t(spark, sf_dir, "events"))


_KFOLD_SQL = f"""
WITH per AS (
  SELECT ('0x' || substr(md5('kf:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
             % {KFOLD_K} AS fold,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ftot AS (SELECT fold, CAST(sum(n) AS BIGINT) AS fold_n FROM per GROUP BY 1)
SELECT per.fold, event_type, n, fold_n,
       (1000000 * n) // fold_n AS share_micro
FROM per JOIN ftot ON per.fold = ftot.fold
ORDER BY per.fold, event_type
"""

KT_XMAX = 511  # dollar-bucket clamp (values top out ~330; clamp keeps

KT_YMAX = 23


def kendall_tau(events):
    """Kendall tau-b rank correlation between value (dollar buckets)
    and hour-of-day, tie-corrected — the monotone-association test for
    bounded-domain pairs (is spend higher later in the day?).

    Concordant/discordant pair counts come from 2D PREFIX SUMS over the
    DENSIFIED (x, y) contingency grid: C = sum n_cell * cum2d(x-1, y-1)
    and D = sum n_cell * (colcum(x-1) - cum2d(x-1, y)), all exact
    int64; tau-b is the one quantized division at the end (with its
    sqrt of exact integers — IEEE-correctly-rounded on both engines).

    Scale shape: ONE shuffle collapses the fact table to the bounded
    cell grid (512 x 24 literal domain); densification is a broadcast
    literal-grid left join; the two chained prefix passes are windows
    partitioned by one bounded axis; every pair count is an aggregate —
    no pair ever materializes. Int64 headroom: C, D <= n^2/2, safe to
    n ~ 4e9 rows per audited slice (shard the audit above that)."""
    spark = events.sparkSession
    cells = (
        events.select(
            F.least(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100"),
                F.lit(KT_XMAX),
            ).alias("x"),
            F.expr("hour(ts)").cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the BOUNDED cell grid (≤ (XMAX+1)·(YMAX+1) rows at any event
    # volume) fans out to five consumers (dense → prefix passes +
    # both margins, plus the scored join) — truncate so the fact scan
    # + cell aggregate run once, not once per consumer (r12; the plan
    # showed 7 events scans)
    from .ops.scale import truncate_lineage

    cells = truncate_lineage(cells)
    grid = (
        spark.range(0, KT_XMAX + 1)
        .select(F.col("id").alias("x"))
        .crossJoin(
            spark.range(0, KT_YMAX + 1).select(F.col("id").alias("y"))
        )
    )
    dense = grid.join(cells, ["x", "y"], "left").select(
        "x", "y", F.coalesce("n", F.lit(0)).alias("n")
    )
    wx = (
        Window.partitionBy("y")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rowc = dense.select(
        "x", "y", "n", F.sum("n").over(wx).alias("cx_le")
    )
    wy = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum2 = rowc.select(
        "x", "y", "n", "cx_le", F.sum("cx_le").over(wy).alias("c2_le")
    )
    # per-cell dominance counts by shifting the cumulative grid:
    # T(x,y) = c2_le(x-1, y-1); U(x,y) = colcum_lt(x) - c2_le(x-1, y)
    shifted_t = cum2.select(
        (F.col("x") + 1).alias("x"),
        (F.col("y") + 1).alias("y"),
        F.col("c2_le").alias("t_lt"),
    )
    shifted_u = cum2.select(
        (F.col("x") + 1).alias("x"),
        F.col("y").alias("y"),
        F.col("c2_le").alias("u_le"),
    )
    xmarg = dense.groupBy("x").agg(F.sum("n").alias("tx"))
    # the x-margin prefix runs over the 512-row literal domain — use the
    # triangular-join identity to stay window-free even there
    xcum = (
        xmarg.select(F.col("x").alias("xa"), F.col("tx").alias("ta"))
        .join(
            xmarg.select(F.col("x").alias("xb"), F.col("tx").alias("tb")),
            F.col("xb") < F.col("xa"),
            "left",
        )
        .groupBy("xa", "ta")
        .agg(F.coalesce(F.sum("tb"), F.lit(0)).alias("colcum_lt"))
        .select(F.col("xa").alias("x"), "ta", "colcum_lt")
    )
    scored = (
        cells.join(shifted_t, ["x", "y"], "left")
        .join(shifted_u, ["x", "y"], "left")
        .join(F.broadcast(xcum.select("x", "colcum_lt")), "x")
        .select(
            "n",
            "x",
            "y",
            (F.col("n") * F.coalesce("t_lt", F.lit(0))).alias("c_term"),
            (
                F.col("n")
                * (F.col("colcum_lt") - F.coalesce("u_le", F.lit(0)))
            ).alias("d_term"),
        )
    )
    ymarg = dense.groupBy("y").agg(F.sum("n").alias("ty"))
    sums = scored.agg(
        F.sum("n").alias("nn"),
        F.sum("c_term").alias("c_pairs"),
        F.sum("d_term").alias("d_pairs"),
    )
    t1 = xmarg.agg(
        F.expr("sum(tx * (tx - 1)) div 2").alias("n1")
    )
    t2 = ymarg.agg(
        F.expr("sum(ty * (ty - 1)) div 2").alias("n2")
    )
    return (
        sums.join(F.broadcast(t1))
        .join(F.broadcast(t2))
        .select(
            F.col("nn").alias("n_rows"),
            F.col("c_pairs"),
            F.col("d_pairs"),
            "n1",
            "n2",
            F.when(
                (F.expr("nn * (nn - 1) div 2") > F.col("n1"))
                & (F.expr("nn * (nn - 1) div 2") > F.col("n2")),
                F.floor(
                    (F.col("c_pairs") - F.col("d_pairs")).cast("double")
                    / F.sqrt(
                        (
                            F.expr("nn * (nn - 1) div 2") - F.col("n1")
                        ).cast("double")
                        * (
                            F.expr("nn * (nn - 1) div 2") - F.col("n2")
                        ).cast("double")
                    )
                    * 1000000
                    + F.lit(0.5)
                ),
            ).alias("tau_b_micro"),
        )
    )


def _stat_kendall_tau(spark, sf_dir):
    return kendall_tau(t(spark, sf_dir, "events"))


_KT_SQL = f"""
WITH cells AS (
  SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 100,
               {KT_XMAX}) AS x,
         CAST(hour(ts) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT CAST(u1.x AS BIGINT) AS x, CAST(u2.y AS BIGINT) AS y
  FROM unnest(range(0, {KT_XMAX} + 1)) AS u1(x),
       unnest(range(0, {KT_YMAX} + 1)) AS u2(y)
),
dense AS (
  SELECT grid.x, grid.y, COALESCE(n, 0) AS n
  FROM grid LEFT JOIN cells ON grid.x = cells.x AND grid.y = cells.y
),
cum2 AS (
  SELECT x, y, n,
         CAST(sum(sum_x) OVER (PARTITION BY x ORDER BY y) AS BIGINT) AS c2_le
  FROM (SELECT x, y, n,
               CAST(sum(n) OVER (PARTITION BY y ORDER BY x) AS BIGINT)
                   AS sum_x
        FROM dense)
),
xmarg AS (SELECT x, CAST(sum(n) AS BIGINT) AS tx FROM dense GROUP BY 1),
xcum AS (
  SELECT x, tx,
         CAST(sum(tx) OVER (ORDER BY x) - tx AS BIGINT) AS colcum_lt
  FROM xmarg
),
ymarg AS (SELECT y, CAST(sum(n) AS BIGINT) AS ty FROM dense GROUP BY 1),
scored AS (
  SELECT c.n,
         c.n * COALESCE(t.c2_le, 0) AS c_term,
         c.n * (xc.colcum_lt - COALESCE(u.c2_le, 0)) AS d_term
  FROM cells c
  LEFT JOIN cum2 t ON t.x = c.x - 1 AND t.y = c.y - 1
  LEFT JOIN cum2 u ON u.x = c.x - 1 AND u.y = c.y
  JOIN xcum xc ON xc.x = c.x
),
sums AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(c_term) AS BIGINT) AS c_pairs,
         CAST(sum(d_term) AS BIGINT) AS d_pairs
  FROM scored
),
t1 AS (SELECT CAST(sum(tx * (tx - 1)) // 2 AS BIGINT) AS n1 FROM xmarg),
t2 AS (SELECT CAST(sum(ty * (ty - 1)) // 2 AS BIGINT) AS n2 FROM ymarg)
SELECT nn AS n_rows, c_pairs, d_pairs, n1, n2,
       CASE WHEN nn * (nn - 1) // 2 > n1 AND nn * (nn - 1) // 2 > n2
            THEN CAST(floor(CAST(c_pairs - d_pairs AS DOUBLE)
                       / sqrt(CAST(nn * (nn - 1) // 2 - n1 AS DOUBLE)
                              * CAST(nn * (nn - 1) // 2 - n2 AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT) END AS tau_b_micro
FROM sums, t1, t2
"""


def brown_forsythe(events):
    """Brown-Forsythe variance-homogeneity test (Levene with group
    MEDIANS, the robust default): F over the absolute deviations
    z = |x - median_g| across the event-type arms — the
    equal-variance gate before pooled t-tests, and a scale-drift alarm
    in its own right.

    Exactness: group medians are exact lower-median order statistics
    at the distinct-cents grain; z and its first moment stay int64;
    each group's SSB/SSW contribution is ONE double expression over
    exact int64 moments, micro-quantized per group before the k-term
    sums (the stat_anova_oneway rule). Scale shape: everything after
    the first shuffle runs at the (group x distinct-value) grain —
    bounded by the value domain — with within-group windows only;
    deviations are re-aggregated AT THAT GRAIN with multiplicities, so
    the fact table is scanned once."""
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
    cum = gv.select(
        "g", "v", "cnt", F.sum("cnt").over(w).alias("cum")
    )
    ng = gv.groupBy("g").agg(F.sum("cnt").alias("n_g"))
    med = (
        cum.join(F.broadcast(ng), "g")
        .where(2 * F.col("cum") >= F.col("n_g"))
        .groupBy("g")
        .agg(F.min("v").alias("med"))
    )
    z = gv.join(F.broadcast(med), "g").select(
        "g", "cnt", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    grp = z.groupBy("g").agg(
        F.sum("cnt").alias("n_g"),
        F.sum(F.col("cnt") * F.col("z")).alias("sz"),
        F.sum(F.col("cnt") * F.col("z") * F.col("z")).alias("szz"),
    )
    terms = grp.select(
        "g",
        "n_g",
        "sz",
        F.floor(
            F.col("sz").cast("double")
            * F.col("sz").cast("double")
            / F.col("n_g").cast("double")
            * 1000000
            + F.lit(0.5)
        ).alias("q_micro"),
        F.floor(
            (
                F.col("szz").cast("double")
                - F.col("sz").cast("double")
                * F.col("sz").cast("double")
                / F.col("n_g").cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("ssw_micro"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("nn"),
        F.sum("sz").alias("sz_all"),
        F.sum("q_micro").alias("sq"),
        F.sum("ssw_micro").alias("ssw"),
    )
    return agg.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_total"),
        (F.col("k") - 1).alias("df1"),
        (F.col("nn") - F.col("k")).alias("df2"),
        F.floor(
            (
                F.col("sq").cast("double")
                - F.col("sz_all").cast("double")
                * F.col("sz_all").cast("double")
                / F.col("nn").cast("double")
                * 1.0e6
            )
            * (F.col("nn") - F.col("k")).cast("double")
            / (
                F.col("ssw").cast("double")
                * (F.col("k") - 1).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("bf_f_micro"),
    )


def _stat_brown_forsythe(spark, sf_dir):
    return brown_forsythe(t(spark, sf_dir, "events"))


_BF_LEVENE_SQL = """
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
med AS (
  SELECT cum.g, min(v) AS med
  FROM cum JOIN ng ON cum.g = ng.g
  WHERE 2 * cum >= n_g GROUP BY 1
),
z AS (
  SELECT gv.g, cnt, abs(v - med) AS z
  FROM gv JOIN med ON gv.g = med.g
),
grp AS (
  SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g,
         CAST(sum(cnt * z) AS BIGINT) AS sz,
         CAST(sum(cnt * z * z) AS BIGINT) AS szz
  FROM z GROUP BY 1
),
terms AS (
  SELECT g, n_g, sz,
         CAST(floor(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                    / CAST(n_g AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
             AS q_micro,
         CAST(floor((CAST(szz AS DOUBLE)
                     - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                       / CAST(n_g AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS ssw_micro
  FROM grp
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS nn,
         CAST(sum(sz) AS BIGINT) AS sz_all,
         CAST(sum(q_micro) AS BIGINT) AS sq,
         CAST(sum(ssw_micro) AS BIGINT) AS ssw
  FROM terms
)
SELECT k AS n_groups, nn AS n_total, k - 1 AS df1, nn - k AS df2,
       CAST(floor((CAST(sq AS DOUBLE)
                   - CAST(sz_all AS DOUBLE) * CAST(sz_all AS DOUBLE)
                     / CAST(nn AS DOUBLE) * 1.0e6)
                  * CAST(nn - k AS DOUBLE)
                  / (CAST(ssw AS DOUBLE) * CAST(k - 1 AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS bf_f_micro
FROM agg
"""

NEYMAN_BUDGET = 10000


def neyman_alloc(events, budget: int = NEYMAN_BUDGET):
    """Neyman-optimal stratified sample allocation (Neyman 1934):
    allocate a fixed budget across strata proportionally to N_h * S_h
    (stratum size times value stddev), with Hamilton largest-remainder
    integer rounding — the survey/eval-set design step that minimizes
    estimator variance for a fixed labeling budget.

    Exactness: N_h and the moment sums are int64; the per-stratum
    weight is a deterministic double expression on exact ints, then
    QUANTIZED to an int64 cent-grain weight BEFORE the cross-strata
    total — summing raw doubles across strata was the engine's one
    order-dependent aggregate (Spark's partial-agg combine order could
    shift wtot by an ulp and flip a floor()/remainder rank at a tie:
    the r10 flake, alloc 1869 vs 1868). Integer weight sums are
    order-independent, and every downstream share/remainder is a
    deterministic double expression on the same ints in both engines.
    The final integer allocation comes from floor + a remainder rank
    computed by a triangular self-join at the bounded stratum grain
    (no window)."""
    grp = (
        events.select(
            F.col("event_type").alias("g"), cents(F.col("value")).alias("v")
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_h"),
            F.sum("v").alias("sv"),
            F.sum(F.col("v") * F.col("v")).alias("svv"),
        )
        .select(
            "g",
            "n_h",
            # cent-grain integer weight: deterministic double math on
            # exact ints, floored half-up to int64 so the cross-strata
            # total below is an ORDER-INDEPENDENT integer sum (a raw
            # double sum could flip a downstream floor on combine
            # order). Relative quantization error <= 0.5/wgt — far
            # below one allocation unit at any realistic budget.
            # n_h == 1 guard: a single-row stratum has undefined sample
            # variance (0/0 -> NaN; Spark's floor+cast nulls it while
            # DuckDB's BIGINT cast errors — divergent failure modes).
            # Zero weight is the total, engine-agreed semantics: no
            # variance information -> no Neyman share.
            F.when(
                F.col("n_h") > 1,
                F.floor(
                    F.col("n_h").cast("double")
                    * F.sqrt(
                        (
                            F.col("n_h").cast("double")
                            * F.col("svv").cast("double")
                            - F.col("sv").cast("double")
                            * F.col("sv").cast("double")
                        )
                        / (
                            F.col("n_h").cast("double")
                            * (F.col("n_h") - 1).cast("double")
                        )
                    )
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("wgt"),
        )
    )
    # greatest(.., 1) guards the all-degenerate corner (every stratum
    # variance rounding to zero weight) from a 0/0 NaN cascade
    tot = grp.agg(
        F.greatest(F.sum("wgt"), F.lit(1).cast("long")).alias("wtot")
    )
    shares = grp.join(F.broadcast(tot)).select(
        "g",
        "n_h",
        F.floor(
            F.lit(budget) * F.col("wgt").cast("double") / F.col("wtot").cast("double")
        ).alias("base"),
        (
            F.lit(budget) * F.col("wgt").cast("double") / F.col("wtot").cast("double")
            - F.floor(
                F.lit(budget)
                * F.col("wgt").cast("double")
                / F.col("wtot").cast("double")
            )
        ).alias("rem"),
        F.floor(
            F.col("wgt").cast("double") / F.col("wtot").cast("double") * 1000000
            + F.lit(0.5)
        ).alias("share_micro"),
    )
    short = shares.agg(
        (F.lit(budget) - F.sum("base")).alias("short")
    )
    ranked = (
        shares.select(F.col("g").alias("ga"), F.col("rem").alias("ra"))
        .join(
            shares.select(F.col("g").alias("gb"), F.col("rem").alias("rb")),
            (F.col("rb") > F.col("ra"))
            | ((F.col("rb") == F.col("ra")) & (F.col("gb") < F.col("ga"))),
            "left",
        )
        .groupBy("ga", "ra")
        .agg(F.count(F.col("gb")).alias("n_ahead"))
        .select(F.col("ga").alias("g"), "n_ahead")
    )
    return (
        shares.join(ranked, "g")
        .join(F.broadcast(short))
        .select(
            "g",
            "n_h",
            "share_micro",
            (
                F.col("base")
                + F.when(F.col("n_ahead") < F.col("short"), 1).otherwise(0)
            ).cast("long").alias("alloc"),
        )
        .orderBy("g")
    )


def _sample_neyman_alloc(spark, sf_dir):
    return neyman_alloc(t(spark, sf_dir, "events"))


_NEYMAN_SQL = f"""
WITH grp AS (
  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n_h,
         CASE WHEN count(*) > 1 THEN
           CAST(floor(CAST(count(*) AS BIGINT) * sqrt(
             (CAST(count(*) AS BIGINT)
                * CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                           * CAST(floor(value * 100 + 0.5) AS BIGINT))
                       AS DOUBLE)
              - CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                * CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE))
             / (CAST(count(*) AS BIGINT)
                * CAST(count(*) - 1 AS DOUBLE))) + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS wgt
  FROM events GROUP BY 1
),
tot AS (SELECT GREATEST(CAST(sum(wgt) AS BIGINT), 1) AS wtot FROM grp),
shares AS (
  SELECT g, n_h,
         floor({NEYMAN_BUDGET} * CAST(wgt AS DOUBLE) / CAST(wtot AS DOUBLE))
             AS base,
         {NEYMAN_BUDGET} * CAST(wgt AS DOUBLE) / CAST(wtot AS DOUBLE)
             - floor({NEYMAN_BUDGET} * CAST(wgt AS DOUBLE)
                     / CAST(wtot AS DOUBLE)) AS rem,
         CAST(floor(CAST(wgt AS DOUBLE) / CAST(wtot AS DOUBLE) * 1000000
                    + 0.5) AS BIGINT) AS share_micro
  FROM grp, tot
),
short AS (
  SELECT CAST({NEYMAN_BUDGET} - sum(base) AS BIGINT) AS short FROM shares
),
ranked AS (
  SELECT a.g, CAST(count(b.g) AS BIGINT) AS n_ahead
  FROM shares a LEFT JOIN shares b
    ON b.rem > a.rem OR (b.rem = a.rem AND b.g < a.g)
  GROUP BY a.g
)
SELECT shares.g, n_h, share_micro,
       CAST(base + CASE WHEN n_ahead < short THEN 1 ELSE 0 END AS BIGINT)
           AS alloc
FROM shares JOIN ranked ON shares.g = ranked.g, short
ORDER BY shares.g
"""


def spearman_corr(events):
    """Spearman rank correlation (tie-averaged ranks) between value
    (dollar buckets) and hour-of-day — the monotone-association
    companion to stat_kendall_tau, sensitive to different alternatives.

    Ranks come from margin prefix sums at the bounded bucket grain
    (average rank of a tie class = cum_lt + (t+1)/2, carried DOUBLED to
    stay int64); each cell's covariance/variance contribution is one
    double expression over exact ints, micro-quantized per cell
    (normalized ranks in [0,1], so terms are O(n_cell) — no n^3 blowup
    at any scale). One shuffle to the cell grid; margins and prefix
    sums are triangular joins at the literal domain grain."""
    cells = (
        events.select(
            F.least(
                F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100"),
                F.lit(KT_XMAX),
            ).alias("x"),
            F.expr("hour(ts)").cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def marg_ranks(col):
        m = cells.groupBy(col).agg(F.sum("n").alias("t"))
        cum = (
            m.select(F.col(col).alias("a"), F.col("t").alias("ta"))
            .join(
                F.broadcast(
                    m.select(F.col(col).alias("b"), F.col("t").alias("tb"))
                ),
                F.col("b") < F.col("a"),
                "left",
            )
            .groupBy("a", "ta")
            .agg(F.coalesce(F.sum("tb"), F.lit(0)).alias("lt"))
        )
        # doubled average rank: 2*lt + t + 1 (int64)
        return cum.select(
            F.col("a").alias(col),
            (2 * F.col("lt") + F.col("ta") + 1).alias(f"r2_{col}"),
        )

    rx = marg_ranks("x")
    ry = marg_ranks("y")
    tot = cells.agg(F.sum("n").alias("nn"))
    terms = (
        cells.join(F.broadcast(rx), "x")
        .join(F.broadcast(ry), "y")
        .join(F.broadcast(tot))
        .select(
            # normalized centered ranks u = r2/(2n) - (n+1)/(2n)
            F.floor(
                F.col("n").cast("double")
                * (
                    F.col("r2_x").cast("double")
                    - (F.col("nn") + 1).cast("double")
                )
                / (2.0 * F.col("nn").cast("double"))
                * (
                    F.col("r2_y").cast("double")
                    - (F.col("nn") + 1).cast("double")
                )
                / (2.0 * F.col("nn").cast("double"))
                * 1000000
                + F.lit(0.5)
            ).alias("sxy_micro"),
            F.floor(
                F.col("n").cast("double")
                * (
                    (
                        F.col("r2_x").cast("double")
                        - (F.col("nn") + 1).cast("double")
                    )
                    / (2.0 * F.col("nn").cast("double"))
                )
                * (
                    (
                        F.col("r2_x").cast("double")
                        - (F.col("nn") + 1).cast("double")
                    )
                    / (2.0 * F.col("nn").cast("double"))
                )
                * 1000000
                + F.lit(0.5)
            ).alias("sxx_micro"),
            F.floor(
                F.col("n").cast("double")
                * (
                    (
                        F.col("r2_y").cast("double")
                        - (F.col("nn") + 1).cast("double")
                    )
                    / (2.0 * F.col("nn").cast("double"))
                )
                * (
                    (
                        F.col("r2_y").cast("double")
                        - (F.col("nn") + 1).cast("double")
                    )
                    / (2.0 * F.col("nn").cast("double"))
                )
                * 1000000
                + F.lit(0.5)
            ).alias("syy_micro"),
            "nn",
        )
    )
    agg = terms.groupBy("nn").agg(
        F.sum("sxy_micro").alias("sxy"),
        F.sum("sxx_micro").alias("sxx"),
        F.sum("syy_micro").alias("syy"),
    )
    return agg.select(
        F.col("nn").alias("n_rows"),
        "sxy",
        "sxx",
        "syy",
        F.when(
            (F.col("sxx") > 0) & (F.col("syy") > 0),
            F.floor(
                F.col("sxy").cast("double")
                / F.sqrt(
                    F.col("sxx").cast("double") * F.col("syy").cast("double")
                )
                * 1000000
                + F.lit(0.5)
            ),
        ).alias("rho_micro"),
    )


def _stat_spearman_corr(spark, sf_dir):
    return spearman_corr(t(spark, sf_dir, "events"))


_SPEAR_SQL = f"""
WITH cells AS (
  SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 100,
               {KT_XMAX}) AS x,
         CAST(hour(ts) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
mx AS (SELECT x, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1),
rx AS (
  SELECT x, CAST(2 * (sum(t) OVER (ORDER BY x) - t) + t + 1 AS BIGINT)
             AS r2_x
  FROM mx
),
my AS (SELECT y, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1),
ry AS (
  SELECT y, CAST(2 * (sum(t) OVER (ORDER BY y) - t) + t + 1 AS BIGINT)
             AS r2_y
  FROM my
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
terms AS (
  SELECT
    CAST(floor(CAST(n AS DOUBLE)
               * (CAST(r2_x AS DOUBLE) - CAST(nn + 1 AS DOUBLE))
                 / (2.0 * CAST(nn AS DOUBLE))
               * (CAST(r2_y AS DOUBLE) - CAST(nn + 1 AS DOUBLE))
                 / (2.0 * CAST(nn AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS sxy_micro,
    CAST(floor(CAST(n AS DOUBLE)
               * ((CAST(r2_x AS DOUBLE) - CAST(nn + 1 AS DOUBLE))
                  / (2.0 * CAST(nn AS DOUBLE)))
               * ((CAST(r2_x AS DOUBLE) - CAST(nn + 1 AS DOUBLE))
                  / (2.0 * CAST(nn AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS sxx_micro,
    CAST(floor(CAST(n AS DOUBLE)
               * ((CAST(r2_y AS DOUBLE) - CAST(nn + 1 AS DOUBLE))
                  / (2.0 * CAST(nn AS DOUBLE)))
               * ((CAST(r2_y AS DOUBLE) - CAST(nn + 1 AS DOUBLE))
                  / (2.0 * CAST(nn AS DOUBLE)))
               * 1000000 + 0.5) AS BIGINT) AS syy_micro,
    nn
  FROM cells JOIN rx USING (x) JOIN ry USING (y), tot
),
agg AS (
  SELECT nn, CAST(sum(sxy_micro) AS BIGINT) AS sxy,
         CAST(sum(sxx_micro) AS BIGINT) AS sxx,
         CAST(sum(syy_micro) AS BIGINT) AS syy
  FROM terms GROUP BY nn
)
SELECT nn AS n_rows, sxy, sxx, syy,
       CASE WHEN sxx > 0 AND syy > 0
            THEN CAST(floor(CAST(sxy AS DOUBLE)
                            / sqrt(CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE))
                            * 1000000 + 0.5) AS BIGINT) END AS rho_micro
FROM agg
"""


def average_precision(events):
    """Average precision (the exact area under the stepwise PR curve):
    AP = sum over descending distinct scores of
    (tp_gain/n_pos) * precision-at-that-threshold — the
    threshold-free ranking metric that complements ml_threshold_sweep's
    fixed operating points (same click/view arms, same cents score;
    ties enter as one step, the standard tie-aware AP).

    Exactness: cumulative tp/fp come from the reflected hierarchical
    prefix at the distinct-score grain; each step's term is one double
    expression over exact int64 counts, micro-quantized per step before
    the sum. Everything heavy stays on the bounded score domain."""
    cum = _pos_neg_grain(events)
    g = cum.withColumn("bkt", F.floor(F.col("v") / 4096))
    w = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = g.select(
        "v", "bkt", "pos_cnt", "neg_cnt", "n_pos", "n_neg",
        F.sum("pos_cnt").over(w).alias("cp_in"),
        F.sum("neg_cnt").over(w).alias("cn_in"),
    )
    btot = g.groupBy("bkt").agg(
        F.sum("pos_cnt").alias("bp"), F.sum("neg_cnt").alias("bn")
    )
    offs = (
        btot.select(F.col("bkt").alias("k"))
        .join(
            F.broadcast(btot.select(F.col("bkt").alias("k2"), "bp", "bn")),
            F.col("k2") < F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum("bp").alias("op"), F.sum("bn").alias("on"))
    )
    steps = within.join(
        F.broadcast(offs), within.bkt == offs.k, "left"
    ).select(
        "pos_cnt",
        "n_pos",
        # descending cumulative INCLUSIVE of this score group
        (
            F.col("n_pos")
            - (F.coalesce("op", F.lit(0)) + F.col("cp_in"))
            + F.col("pos_cnt")
        ).alias("tp"),
        (
            F.col("n_neg")
            - (F.coalesce("on", F.lit(0)) + F.col("cn_in"))
            + F.col("neg_cnt")
        ).alias("fp"),
    )
    terms = steps.where(F.col("pos_cnt") > 0).select(
        "n_pos",
        F.floor(
            F.col("pos_cnt").cast("double")
            / F.col("n_pos").cast("double")
            * F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double")
            * 1000000000
            + F.lit(0.5)
        ).alias("term_nano"),
    )
    return terms.groupBy("n_pos").agg(
        F.expr("CAST(sum(term_nano) div 1000 AS BIGINT)").alias("ap_micro"),
        F.count(F.lit(1)).alias("n_steps"),
    ).select("n_pos", "n_steps", "ap_micro")


def _ml_average_precision(spark, sf_dir):
    return average_precision(t(spark, sf_dir, "events"))


_AP_SQL = f"""
WITH {_PN_CTE},
cums AS (
  SELECT v, pos_cnt, neg_cnt,
         CAST(sum(pos_cnt) OVER (ORDER BY v) AS BIGINT) AS cp,
         CAST(sum(neg_cnt) OVER (ORDER BY v) AS BIGINT) AS cn
  FROM g
),
steps AS (
  SELECT pos_cnt, n_pos,
         n_pos - cp + pos_cnt AS tp,
         n_neg - cn + neg_cnt AS fp
  FROM cums, tot
),
terms AS (
  SELECT n_pos,
         CAST(floor(CAST(pos_cnt AS DOUBLE) / CAST(n_pos AS DOUBLE)
                    * CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                    * 1000000000 + 0.5) AS BIGINT) AS term_nano
  FROM steps WHERE pos_cnt > 0
)
SELECT n_pos, CAST(count(*) AS BIGINT) AS n_steps,
       CAST(sum(term_nano) // 1000 AS BIGINT) AS ap_micro
FROM terms GROUP BY n_pos
"""

NDCG_K = 10

NDCG_QUERY_MOD = 50

NDCG_QUERY_REM = 7

_NDCG_DISC_NANO = (
    (1, 1000000000),
    (2, 630929754),
    (3, 500000000),
    (4, 430676558),
    (5, 386852807),
    (6, 356207187),
    (7, 333333333),
    (8, 315464877),
    (9, 301029996),
    (10, 289064826),
)


def ndcg_ann(embeddings, k: int = NDCG_K, codes=None):
    """NDCG@k of SQ8-ANN retrieval with label-match relevance: each
    sampled query retrieves its k nearest codes; a hit whose ``label``
    equals the query's counts relevance 1. DCG uses the standard
    1/log2(rank+1) discounts (nano-quantized literal constants — no log
    evaluated anywhere); IDCG is the same table truncated to the
    query's attainable hit count, so NDCG is exact integer division of
    two int64 sums.

    Scale shape: candidates scan once against the broadcast query
    sample, per-query ranks are windows partitioned by query (queries
    are the parallelism), and the discount join is a k-row literal
    broadcast."""
    from .ext.similarity import sq8_codes

    lab = embeddings.select("vec_id", F.col("label").cast("long").alias("lb"))
    if codes is None:
        codes = sq8_codes(embeddings)
    codes = codes.join(lab, "vec_id")
    q = codes.where(
        F.col("vec_id") % NDCG_QUERY_MOD == NDCG_QUERY_REM
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("c").alias("qc"),
        F.col("lb").alias("qlb"),
    )
    # vectorized Arrow/NumPy int64 distance kernel + candidate spread
    # (r12) — the same integer-sums-commute exactness argument and the
    # same mechanics as matryoshka_recall above (sanctioned in
    # tests/test_plans.ARROW_KERNEL_KEYS)
    from pyspark.sql.functions import pandas_udf

    import numpy as np
    import pandas as pd

    def _full(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        d = np.stack(a.values).astype(np.int64) - np.stack(b.values).astype(
            np.int64
        )
        return pd.Series((d * d).sum(axis=1))

    _full.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    _d2_np = pandas_udf(_full, "long")
    pairs = (
        spread(codes, F.col("vec_id"))
        .join(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlb",
            F.col("vec_id").alias("cid"),
            F.col("lb").alias("clb"),
            _d2_np("qc", "c").alias("d2"),
        )
    )
    w = Window.partitionBy("qid").orderBy("d2", "cid")
    topk = pairs.select(
        "qid", "qlb", "clb", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= k)
    disc = F.broadcast(
        embeddings.sparkSession.createDataFrame(
            list(_NDCG_DISC_NANO), "rnk int, disc_nano long"
        )
    )
    per_q = (
        topk.join(disc, "rnk")
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(F.col("clb") == F.col("qlb"), F.col("disc_nano")).otherwise(0)
            ).alias("dcg_nano"),
            F.sum(
                F.when(F.col("clb") == F.col("qlb"), 1).otherwise(0)
            ).alias("n_hits"),
        )
    )
    # IDCG = sum of the first n_hits discounts (prefix sums of the
    # literal table, joined by hit count)
    idcg_rows = []
    acc = 0
    for r, dn in _NDCG_DISC_NANO:
        acc += dn
        idcg_rows.append((r, acc))
    idcg = F.broadcast(
        embeddings.sparkSession.createDataFrame(
            idcg_rows, "n_hits int, idcg_nano long"
        )
    )
    return (
        per_q.join(idcg, per_q.n_hits == idcg.n_hits, "left")
        .select(
            "qid",
            per_q.n_hits.alias("n_hits"),
            "dcg_nano",
            F.when(
                F.col("idcg_nano").isNotNull(),
                F.expr("(1000000 * dcg_nano) div idcg_nano"),
            )
            .otherwise(F.lit(None).cast("long"))
            .alias("ndcg_micro"),
        )
        .orderBy("qid")
    )


def _ml_ndcg_ann(spark, sf_dir):
    return ndcg_ann(
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )


_NDCG_DISC_VALUES = ", ".join(f"({r}, {d})" for r, d in _NDCG_DISC_NANO)


def _idcg_values() -> str:
    acc, rows = 0, []
    for r, d in _NDCG_DISC_NANO:
        acc += d
        rows.append(f"({r}, {acc})")
    return ", ".join(rows)


_NDCG_IDCG_VALUES = _idcg_values()

_NDCG_SQL = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id, CAST(label AS BIGINT) AS lb,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5)
                   AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
q AS (SELECT vec_id AS qid, c AS qc, lb AS qlb FROM codes
      WHERE vec_id % {NDCG_QUERY_MOD} = {NDCG_QUERY_REM}),
pairs AS (
  SELECT q.qid, q.qlb, c2.vec_id AS cid, c2.lb AS clb,
         CAST(list_sum(list_transform(range(1, {RP_IN_DIMS} + 1),
              i -> (q.qc[i] - c2.c[i]) * (q.qc[i] - c2.c[i]))) AS BIGINT)
             AS d2
  FROM q JOIN codes c2 ON c2.vec_id <> q.qid
),
topk AS (
  SELECT qid, qlb, clb,
         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk
  FROM pairs QUALIFY rnk <= {NDCG_K}
),
disc(rnk, disc_nano) AS (VALUES {_NDCG_DISC_VALUES}),
per_q AS (
  SELECT qid,
         CAST(sum(CASE WHEN clb = qlb THEN disc_nano ELSE 0 END) AS BIGINT)
             AS dcg_nano,
         CAST(sum(CASE WHEN clb = qlb THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits
  FROM topk JOIN disc USING (rnk) GROUP BY qid
),
idcg(n_hits, idcg_nano) AS (VALUES {_NDCG_IDCG_VALUES})
SELECT qid, per_q.n_hits AS n_hits, dcg_nano,
       CASE WHEN idcg_nano IS NOT NULL
            THEN (1000000 * dcg_nano) // idcg_nano END AS ndcg_micro
FROM per_q LEFT JOIN idcg ON per_q.n_hits = idcg.n_hits
ORDER BY qid
"""


def runs_test(events):
    """Wald-Wolfowitz runs test on the hourly series: signs relative to
    the series' exact lower median, runs counted by calendar-adjacency
    (an equi self-join on hidx-1 — consecutive PRESENT hours), and the
    large-sample z-score from the exact (n_plus, n_minus, n_runs)
    triple — the randomness check behind is-my-metric-oscillating
    alarms.

    Exactness: the median is an exact order statistic, sign/run counts
    are int64, and z is one micro-quantized double expression over
    them. All work at the calendar-bounded hour grain."""
    hourly = (
        events.select(
            F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
            cents(F.col("value")).alias("cts"),
        )
        .groupBy("hidx")
        .agg(F.sum("cts").alias("y"))
    )
    # exact lower median of y over hours (value-grain cum)
    vg = hourly.groupBy("y").agg(F.count(F.lit(1)).alias("cnt"))
    n1 = vg.agg(F.sum("cnt").alias("n"))
    cumv = (
        vg.select(F.col("y").alias("a"), F.col("cnt").alias("ca"))
        .join(
            F.broadcast(vg.select(F.col("y").alias("b"), F.col("cnt").alias("cb"))),
            F.col("b") <= F.col("a"),
        )
        .groupBy("a")
        .agg(F.sum("cb").alias("cum"))
    )
    med = (
        cumv.join(F.broadcast(n1))
        .where(2 * F.col("cum") >= F.col("n"))
        .agg(F.min("a").alias("med"))
    )
    signed = hourly.join(F.broadcast(med)).select(
        "hidx", (F.col("y") > F.col("med")).alias("up")
    )
    # runs: sign changes across calendar-adjacent present hours
    adj = signed.alias("l").join(
        signed.alias("r"), F.expr("l.hidx + 1 = r.hidx")
    ).select(
        F.col("l.up").alias("u0"), F.col("r.up").alias("u1")
    )
    counts = signed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("up"), 1).otherwise(0)).alias("n_plus"),
    )
    breaks = adj.agg(
        F.count(F.lit(1)).alias("n_adj"),
        F.sum(F.when(F.col("u0") != F.col("u1"), 1).otherwise(0)).alias(
            "n_changes"
        ),
    )
    # runs = segments over adjacency: n - n_adj components merge... a
    # run ends at every sign change AND at every calendar gap, so
    # n_runs = (n - n_adj) + n_changes  (gaps split runs by definition)
    return (
        counts.join(F.broadcast(breaks))
        .select(
            "n",
            "n_plus",
            (F.col("n") - F.col("n_plus")).alias("n_minus"),
            (F.col("n") - F.col("n_adj") + F.col("n_changes")).alias("n_runs"),
            F.floor(
                (
                    (
                        F.col("n") - F.col("n_adj") + F.col("n_changes")
                    ).cast("double")
                    - (
                        2.0
                        * F.col("n_plus").cast("double")
                        * (F.col("n") - F.col("n_plus")).cast("double")
                        / F.col("n").cast("double")
                        + 1.0
                    )
                )
                / F.sqrt(
                    2.0
                    * F.col("n_plus").cast("double")
                    * (F.col("n") - F.col("n_plus")).cast("double")
                    * (
                        2.0
                        * F.col("n_plus").cast("double")
                        * (F.col("n") - F.col("n_plus")).cast("double")
                        - F.col("n").cast("double")
                    )
                    / (
                        F.col("n").cast("double")
                        * F.col("n").cast("double")
                        * (F.col("n") - 1).cast("double")
                    )
                )
                * 1000000
                + F.lit(0.5)
            ).alias("z_micro"),
        )
    )


def _stat_runs_test(spark, sf_dir):
    return runs_test(t(spark, sf_dir, "events"))


_RUNS_SQL = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hidx,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
),
vg AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM hourly GROUP BY 1),
n1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vg),
cumv AS (
  SELECT y, CAST(sum(cnt) OVER (ORDER BY y) AS BIGINT) AS cum FROM vg
),
med AS (
  SELECT min(y) AS med FROM cumv, n1 WHERE 2 * cum >= n
),
signed AS (
  SELECT hidx, y > med AS up FROM hourly, med
),
adj AS (
  SELECT l.up AS u0, r.up AS u1
  FROM signed l JOIN signed r ON l.hidx + 1 = r.hidx
),
counts AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_plus
  FROM signed
),
brk AS (
  SELECT CAST(count(*) AS BIGINT) AS n_adj,
         CAST(sum(CASE WHEN u0 <> u1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changes
  FROM adj
)
SELECT n, n_plus, n - n_plus AS n_minus,
       n - n_adj + n_changes AS n_runs,
       CAST(floor((CAST(n - n_adj + n_changes AS DOUBLE)
                   - (2.0 * CAST(n_plus AS DOUBLE)
                      * CAST(n - n_plus AS DOUBLE) / CAST(n AS DOUBLE)
                      + 1.0))
                  / sqrt(2.0 * CAST(n_plus AS DOUBLE)
                         * CAST(n - n_plus AS DOUBLE)
                         * (2.0 * CAST(n_plus AS DOUBLE)
                            * CAST(n - n_plus AS DOUBLE)
                            - CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * CAST(n - 1 AS DOUBLE)))
                  * 1000000 + 0.5) AS BIGINT) AS z_micro
FROM counts, brk
"""

Z_ALPHA_MICRO = 1959964

Z_POWER_MICRO = 841621


def mde_power(events):
    """Minimum detectable effect for the hash-armed A/B split at
    alpha=0.05 (two-sided), power=0.80: MDE = (z_a + z_b) *
    sqrt(var * (1/n_a + 1/n_b)) over the cents metric — the
    experiment-sizing number every A/B platform prints next to its
    results. Normal quantiles enter as micro literals; variance comes
    from exact int64 moments; one user-grain shuffle and 1-row math."""
    per_user = (
        events.select(
            "user_id", cents(F.col("value")).alias("v")
        )
        .groupBy("user_id")
        .agg(F.sum("v").alias("m"))
        .select(
            "m",
            (
                token_hash(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm"),
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("s"),
        F.sum(F.col("m") * F.col("m")).alias("ss"),
    )
    var = (
        F.col("n").cast("double") * F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (
        F.col("n").cast("double") * (F.col("n") - 1).cast("double")
    )
    return agg.select(
        "n_a",
        "n_b",
        F.floor(var + F.lit(0.5)).alias("var_cents2"),
        F.floor(
            (F.lit(Z_ALPHA_MICRO + Z_POWER_MICRO).cast("double") / 1.0e6)
            * F.sqrt(
                var
                * (
                    1.0 / F.col("n_a").cast("double")
                    + 1.0 / F.col("n_b").cast("double")
                )
            )
            * 1000
            + F.lit(0.5)
        ).alias("mde_millicents"),
    )


def _stat_mde_power(spark, sf_dir):
    return mde_power(t(spark, sf_dir, "events"))


_MDE_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m,
         ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2 AS arm
  FROM events GROUP BY user_id
),
agg AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(m) AS BIGINT) AS s,
         CAST(sum(m * m) AS BIGINT) AS ss
  FROM per_user
)
SELECT n_a, n_b,
       CAST(floor((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) + 0.5)
            AS BIGINT) AS var_cents2,
       CAST(floor(CAST({Z_ALPHA_MICRO + Z_POWER_MICRO} AS DOUBLE) / 1.0e6
                  * sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                         * (1.0 / CAST(n_a AS DOUBLE)
                            + 1.0 / CAST(n_b AS DOUBLE)))
                  * 1000 + 0.5) AS BIGINT) AS mde_millicents
FROM agg
"""

SRM_CHI2_CRIT_MICRO = 3841459  # chi2_{0.95, df=1}, micro literal


def srm_check(events):
    """Sample-ratio-mismatch guard: chi-square of the hash-armed user
    split against the designed 50/50 — the first thing a trustworthy
    A/B readout checks, because a biased split invalidates everything
    downstream. chi2 = (n_a - n_b)^2 / n exactly; the critical value is
    a micro literal. One user-grain aggregate, 1-row output."""
    arms = (
        events.select("user_id")
        .distinct()
        .select(
            (
                token_hash(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm")
        )
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        )
    )
    return arms.select(
        "n_a",
        "n_b",
        F.floor(
            (F.col("n_a") - F.col("n_b")).cast("double")
            * (F.col("n_a") - F.col("n_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
            * 1000000
            + F.lit(0.5)
        ).alias("chi2_micro"),
        (
            F.floor(
                (F.col("n_a") - F.col("n_b")).cast("double")
                * (F.col("n_a") - F.col("n_b")).cast("double")
                / (F.col("n_a") + F.col("n_b")).cast("double")
                * 1000000
                + F.lit(0.5)
            )
            > SRM_CHI2_CRIT_MICRO
        ).alias("srm_flag"),
    )


def _stat_srm_check(spark, sf_dir):
    return srm_check(t(spark, sf_dir, "events"))


_SRM_SQL = f"""
WITH arms AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM (SELECT DISTINCT user_id,
               ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 AS arm
        FROM events)
)
SELECT n_a, n_b,
       CAST(floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                  / CAST(n_a + n_b AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS chi2_micro,
       CAST(floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                  / CAST(n_a + n_b AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           > {SRM_CHI2_CRIT_MICRO} AS srm_flag
FROM arms
"""


def logrank_test(events):
    """Two-sample log-rank test (Mantel-Haenszel) between the hash-armed
    user cohorts' lifetime distributions (lifetime = hours between a
    user's first and last event; every subject fails, no censoring —
    the events_survival_km convention): at every distinct failure time
    the observed arm-A failures compare against the hypergeometric
    expectation, and chi2 = (sum(O-E))^2 / sum(V) — the A/B test for
    "did the intervention change retention CURVES", which mean-based
    tests cannot see.

    Exactness: at-risk counts come from the reflected coarse-bucket
    prefix at the bounded duration grain; each time's O-E and variance
    terms are single double expressions over exact int64 counts,
    micro-quantized per time before the sums."""
    per_user = (
        events.select("user_id", F.expr("unix_micros(ts)").alias("us"))
        .groupBy("user_id")
        .agg(
            F.expr("(max(us) - min(us)) div 3600000000").alias("dur_h")
        )
        .select(
            "dur_h",
            (
                token_hash(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm"),
        )
    )
    g = per_user.groupBy("dur_h").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("d2"),
    )
    tot = g.agg(F.sum("d1").alias("n1"), F.sum("d2").alias("n2"))
    gb = g.withColumn("bkt", F.expr("dur_h div 64"))
    w = (
        Window.partitionBy("bkt")
        .orderBy("dur_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = gb.select(
        "dur_h", "bkt", "d1", "d2",
        F.sum("d1").over(w).alias("c1_in"),
        F.sum("d2").over(w).alias("c2_in"),
    )
    btot = gb.groupBy("bkt").agg(
        F.sum("d1").alias("b1"), F.sum("d2").alias("b2")
    )
    offs = (
        btot.select(F.col("bkt").alias("k"))
        .join(
            F.broadcast(btot.select(F.col("bkt").alias("k2"), "b1", "b2")),
            F.col("k2") < F.col("k"),
        )
        .groupBy("k")
        .agg(F.sum("b1").alias("o1"), F.sum("b2").alias("o2"))
    )
    # at-risk just BEFORE time t: n_a - cum_lt = n_a - (cum_le - d_a)
    at_risk = (
        within.join(F.broadcast(offs), within.bkt == offs.k, "left")
        .join(F.broadcast(tot))
        .select(
            "dur_h", "d1", "d2",
            (
                F.col("n1")
                - (F.coalesce("o1", F.lit(0)) + F.col("c1_in") - F.col("d1"))
            ).alias("r1"),
            (
                F.col("n2")
                - (F.coalesce("o2", F.lit(0)) + F.col("c2_in") - F.col("d2"))
            ).alias("r2"),
            "n1", "n2",
        )
    )
    terms = at_risk.where(
        (F.col("r1") + F.col("r2") > 1)
    ).select(
        "n1",
        "n2",
        F.floor(
            (
                F.col("d1").cast("double")
                - (F.col("d1") + F.col("d2")).cast("double")
                * F.col("r1").cast("double")
                / (F.col("r1") + F.col("r2")).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("oe_micro"),
        F.floor(
            (
                (F.col("d1") + F.col("d2")).cast("double")
                * F.col("r1").cast("double")
                / (F.col("r1") + F.col("r2")).cast("double")
                * F.col("r2").cast("double")
                / (F.col("r1") + F.col("r2")).cast("double")
                * (
                    F.col("r1") + F.col("r2") - F.col("d1") - F.col("d2")
                ).cast("double")
                / (F.col("r1") + F.col("r2") - 1).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("v_micro"),
    )
    agg = terms.groupBy("n1", "n2").agg(
        F.count(F.lit(1)).alias("n_times"),
        F.sum("oe_micro").alias("soe"),
        F.sum("v_micro").alias("sv"),
    )
    return agg.select(
        "n1",
        "n2",
        "n_times",
        F.when(
            F.col("sv") > 0,
            F.floor(
                F.col("soe").cast("double")
                * F.col("soe").cast("double")
                / 1.0e6
                / F.col("sv").cast("double")
                * 1000000
                + F.lit(0.5)
            ),
        ).alias("chi2_micro"),
    )


def _stat_logrank_test(spark, sf_dir):
    return logrank_test(t(spark, sf_dir, "events"))


_LOGRANK_SQL = """
WITH per_user AS (
  SELECT (max(epoch_us(ts)) - min(epoch_us(ts))) // 3600000000 AS dur_h,
         ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2 AS arm
  FROM events GROUP BY user_id
),
g AS (
  SELECT dur_h,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d2
  FROM per_user GROUP BY 1
),
tot AS (
  SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2 FROM g
),
cum AS (
  SELECT dur_h, d1, d2,
         CAST(sum(d1) OVER (ORDER BY dur_h) AS BIGINT) AS c1,
         CAST(sum(d2) OVER (ORDER BY dur_h) AS BIGINT) AS c2
  FROM g
),
at_risk AS (
  SELECT dur_h, d1, d2,
         n1 - (c1 - d1) AS r1, n2 - (c2 - d2) AS r2, n1, n2
  FROM cum, tot
),
terms AS (
  SELECT n1, n2,
         CAST(floor((CAST(d1 AS DOUBLE)
                     - CAST(d1 + d2 AS DOUBLE) * CAST(r1 AS DOUBLE)
                       / CAST(r1 + r2 AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS oe_micro,
         CAST(floor((CAST(d1 + d2 AS DOUBLE) * CAST(r1 AS DOUBLE)
                     / CAST(r1 + r2 AS DOUBLE)
                     * CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)
                     * CAST(r1 + r2 - d1 - d2 AS DOUBLE)
                     / CAST(r1 + r2 - 1 AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS v_micro
  FROM at_risk WHERE r1 + r2 > 1
),
agg AS (
  SELECT n1, n2, CAST(count(*) AS BIGINT) AS n_times,
         CAST(sum(oe_micro) AS BIGINT) AS soe,
         CAST(sum(v_micro) AS BIGINT) AS sv
  FROM terms GROUP BY 1, 2
)
SELECT n1, n2, n_times,
       CASE WHEN sv > 0
            THEN CAST(floor(CAST(soe AS DOUBLE) * CAST(soe AS DOUBLE)
                            / 1.0e6 / CAST(sv AS DOUBLE)
                            * 1000000 + 0.5) AS BIGINT) END AS chi2_micro
FROM agg
"""

_Z975 = 1.959963984540054  # Phi^-1(0.975), a literal in both engines


# ------------------------------------------- TWO-PROPORTION Z (A/B)


def proportions_ztest(events):
    """Two-proportion z-test on conversion: of users who signed up, did
    the hash arms convert (first purchase within 24 h of first signup)
    at different rates? Pooled-variance z plus the unpooled Wald 95%
    CI half-width — the everyday A/B readout the stat family lacked
    (KS/MWU/chi2 test distributions; this tests THE rate). Conversion
    is time-windowed because in this fixture every signer eventually
    purchases — the undated definition is vacuously p=1 in both arms.

    Exactness: one fact scan to the user grain, one 2-row aggregate;
    x/n are exact int64 and both statistics are single double
    expression trees over their casts, micro-quantized at export;
    degenerate margins (an empty arm, or se = 0) export NULL rather
    than tripping ANSI division.
    """
    us = F.expr("unix_micros(ts)")
    per_user = (
        events.where(F.col("event_type").isin("signup", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us"),
            F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
        )
        .where(F.col("s_us").isNotNull())
        .select(
            (
                token_hash(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
                % 2
            ).alias("arm"),
            F.when(
                F.col("p_us") <= F.col("s_us") + F.lit(86400000000), 1
            )
            .otherwise(0)
            .alias("converted"),
        )
    )
    # coalesce: a global aggregate over ZERO signed users still returns
    # one row, with NULL sums — export (0,0,0,0) instead
    z = lambda c: F.coalesce(c, F.lit(0)).cast("long")  # noqa: E731
    arms = per_user.groupBy().agg(
        z(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))).alias("n1"),
        z(F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))).alias("x1"),
        z(F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))).alias("n2"),
        z(F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))).alias("x2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pp = (d("x1") + d("x2")) / (d("n1") + d("n2"))
    diff = d("x1") / d("n1") - d("x2") / d("n2")
    se_pool = F.sqrt(pp * (1 - pp) * (1 / d("n1") + 1 / d("n2")))
    se_wald = F.sqrt(
        (d("x1") / d("n1")) * (1 - d("x1") / d("n1")) / d("n1")
        + (d("x2") / d("n2")) * (1 - d("x2") / d("n2")) / d("n2")
    )
    q = lambda col: F.floor(col * 1000000 + F.lit(0.5)).cast("long")  # noqa: E731
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    return arms.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.when(both, q(diff)).alias("diff_micro"),
        F.when(
            both & (F.col("x1") + F.col("x2") > 0)
            & (F.col("x1") + F.col("x2") < F.col("n1") + F.col("n2")),
            q(diff / se_pool),
        ).alias("z_micro"),
        F.when(both, q(F.lit(_Z975) * se_wald)).alias("ci_halfwidth_micro"),
    )


def _stat_proportions_ztest(spark, sf_dir):
    return proportions_ztest(t(spark, sf_dir, "events"))


_PROPZ_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
  FROM events
  WHERE event_type IN ('signup', 'purchase')
  GROUP BY user_id
),
armed AS (
  SELECT ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2 AS arm,
         CASE WHEN p_us <= s_us + 86400000000 THEN 1 ELSE 0 END AS converted
  FROM per_user WHERE s_us IS NOT NULL
),
agg AS (
  SELECT CAST(COALESCE(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
         CAST(COALESCE(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END), 0) AS BIGINT) AS x1,
         CAST(COALESCE(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2,
         CAST(COALESCE(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END), 0) AS BIGINT) AS x2
  FROM armed
)
SELECT n1, x1, n2, x2,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    CAST(floor((CAST(x1 AS DOUBLE)/n1 - CAST(x2 AS DOUBLE)/n2) * 1000000 + 0.5)
         AS BIGINT) END AS diff_micro,
  CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN
    CAST(floor((CAST(x1 AS DOUBLE)/n1 - CAST(x2 AS DOUBLE)/n2)
         / sqrt((CAST(x1 AS DOUBLE)+x2)/(CAST(n1 AS DOUBLE)+n2)
                * (1 - (CAST(x1 AS DOUBLE)+x2)/(CAST(n1 AS DOUBLE)+n2))
                * (1/CAST(n1 AS DOUBLE) + 1/CAST(n2 AS DOUBLE)))
         * 1000000 + 0.5) AS BIGINT) END AS z_micro,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    CAST(floor({_Z975!r} * sqrt(
          (CAST(x1 AS DOUBLE)/n1) * (1 - CAST(x1 AS DOUBLE)/n1) / n1
        + (CAST(x2 AS DOUBLE)/n2) * (1 - CAST(x2 AS DOUBLE)/n2) / n2)
         * 1000000 + 0.5) AS BIGINT) END AS ci_halfwidth_micro
FROM agg
"""


# ------------------------------------------- RATIO METRIC, DELTA CI


def ratio_delta_ci(events):
    """Delta-method 95% CI for a ratio metric: revenue-per-event, the
    unit-of-analysis problem mean tests get wrong because a user's
    numerator (revenue cents) and denominator (event count) co-vary.
    r = X̄/Ȳ over user-grain pairs; Var(r) ≈ (s_xx − 2r s_xy + r² s_yy)
    / (n ȳ²) with sample (co)variances from exact int64 sums.

    Scale shape: one shuffle to the user grain, one 1-row aggregate;
    the moments (Σx, Σy, Σx², Σy², Σxy) are exact int64 (cents-grain
    products bounded well inside int64 at any SF-proportional per-user
    volume), and the CI is one double expression over their casts.
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents(F.col("value")))
            .otherwise(0)
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    m = per_user.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = d("n")
    r = d("sx") / d("sy")
    ybar = d("sy") / n
    c_xx = (d("sxx") - d("sx") * d("sx") / n) / (n - 1)
    c_yy = (d("syy") - d("sy") * d("sy") / n) / (n - 1)
    c_xy = (d("sxy") - d("sx") * d("sy") / n) / (n - 1)
    # clamp at 0 before the sqrt: when per-user x is (near-)proportional
    # to y the true variance is ~0 and float64 rounding can land the
    # quadratic form a hair NEGATIVE — unclamped, DuckDB's sqrt raises
    # and Spark's NaN would trip the ANSI floor→long cast. Clamped in
    # BOTH engines so the definitions stay aligned.
    var_r = F.greatest(
        (c_xx - 2 * r * c_xy + r * r * c_yy) / (n * ybar * ybar),
        F.lit(0.0),
    )
    q = lambda col: F.floor(col * 1000000 + F.lit(0.5)).cast("long")  # noqa: E731
    return m.select(
        "n",
        "sx",
        "sy",
        q(r).alias("ratio_micro"),
        # n = 1 leaves the sample covariances 0/0 — export NULL, never
        # a NaN (ANSI cast of NaN to long raises)
        F.when(F.col("n") > 1, q(F.lit(_Z975) * F.sqrt(var_r))).alias(
            "ci_halfwidth_micro"
        ),
    )


def _stat_ratio_delta_ci(spark, sf_dir):
    return ratio_delta_ci(t(spark, sf_dir, "events"))


_RATIO_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
         CAST(sum(x*y) AS BIGINT) AS sxy
  FROM per_user
)
SELECT n, sx, sy,
  CAST(floor(CAST(sx AS DOUBLE)/CAST(sy AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS ratio_micro,
  CASE WHEN n > 1 THEN
  CAST(floor({_Z975!r} * sqrt(greatest(
      ( (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE)-1)
        - 2 * (CAST(sx AS DOUBLE)/CAST(sy AS DOUBLE))
            * ( (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE)-1) )
        + (CAST(sx AS DOUBLE)/CAST(sy AS DOUBLE)) * (CAST(sx AS DOUBLE)/CAST(sy AS DOUBLE))
            * ( (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE)-1) )
      ) / (CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)))
  , 0.0)) * 1000000 + 0.5) AS BIGINT) END AS ci_halfwidth_micro
FROM m
"""


STATS_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("sample_stratified", _sample_stratified, _STRATIFIED_SQL),
        QueryDef("sample_hash_bernoulli", _sample_hash_bernoulli, _BERNOULLI_SQL),
        QueryDef("stat_ks_test", _stat_ks_test, _KS_SQL),
        QueryDef("stat_mannwhitney_u", _stat_mannwhitney_u, _MWU_SQL),
        QueryDef("stat_chi2_independence", _stat_chi2_independence, _CHI2_SQL),
        QueryDef("stat_benjamini_hochberg", _stat_benjamini_hochberg, _BH_SQL),
        QueryDef("stat_bootstrap_ci", _stat_bootstrap_ci, _BOOT_SQL),
        QueryDef("sample_weighted_units", _sample_weighted_units, _WRS_SQL),
        QueryDef("stat_permutation_test", _stat_permutation_test, _PERM_SQL),
        QueryDef("stat_multiple_regression", _stat_multiple_regression, _MREG_SQL),
        QueryDef("sample_class_balance", _sample_class_balance, _BAL_SQL),
        QueryDef("stat_anova_oneway", _stat_anova_oneway, _ANOVA_SQL),
        QueryDef("stat_welch_ttest", _stat_welch_ttest, _WELCH_SQL),
        QueryDef("ml_threshold_sweep", _ml_threshold_sweep, _THR_SQL),
        QueryDef("ml_lift_gains", _ml_lift_gains, _LIFT_SQL),
        QueryDef("ml_calibration_bins", _ml_calibration_bins, _CALIB_SQL),
        QueryDef("ml_naive_bayes", _ml_naive_bayes, _NB_SQL),
        QueryDef("sample_kfold_assign", _sample_kfold_assign, _KFOLD_SQL),
        QueryDef("stat_kendall_tau", _stat_kendall_tau, _KT_SQL),
        QueryDef("stat_brown_forsythe", _stat_brown_forsythe, _BF_LEVENE_SQL),
        QueryDef("sample_neyman_alloc", _sample_neyman_alloc, _NEYMAN_SQL),
        QueryDef("stat_spearman_corr", _stat_spearman_corr, _SPEAR_SQL),
        QueryDef("ml_average_precision", _ml_average_precision, _AP_SQL),
        QueryDef("ml_ndcg_ann", _ml_ndcg_ann, _NDCG_SQL),
        QueryDef("stat_runs_test", _stat_runs_test, _RUNS_SQL),
        QueryDef("stat_mde_power", _stat_mde_power, _MDE_SQL),
        QueryDef("stat_srm_check", _stat_srm_check, _SRM_SQL),
        QueryDef("stat_logrank_test", _stat_logrank_test, _LOGRANK_SQL),
        QueryDef("stat_proportions_ztest", _stat_proportions_ztest, _PROPZ_SQL),
        QueryDef("stat_ratio_delta_ci", _stat_ratio_delta_ci, _RATIO_SQL),
    )
}
