"""Round-7 additions, registered after the r6b families.

Six keys closing real gaps:

- ``stat_proportions_ztest`` — the two-proportion z-test + Wald CI on
  conversion (signup→purchase), the most common A/B statistic the stat
  family still lacked.
- ``stat_ratio_delta_ci`` — delta-method CI for a RATIO metric
  (revenue per event), the experimentation workhorse that mean-grain
  tests cannot cover because numerator and denominator co-vary per
  user.
- ``events_quantile_treatment_effect`` — exact order-statistic
  quantiles of the outcome per hash arm and their differences: the
  tail-sensitive readout mean tests miss entirely.
- ``source_jsonl_roundtrip`` / ``source_csv_roundtrip`` /
  ``source_orc_roundtrip`` — JSONL, CSV and ORC sink→scan parity with
  md5 content checksums. LLM-pipeline
  interchange is JSONL-first and CSV never dies; the checksum proves
  byte fidelity through each format's escaping (the CSV text is
  deliberately salted with quotes/commas/newlines so the quoting path
  actually executes).

Exactness discipline as everywhere (registry_util): int64 arithmetic
up to single double expression trees over exact int64 casts, every
exported float micro-quantized ``floor(x*1e6 + 0.5)`` per term before
any cross-row sum. Reference parity: the reference (pandas/requests
ETL) persists JSON API payloads to parquet (fitbit_utils.py:285-287);
the roundtrip keys generalize that sink surface to the two text
formats; the stat keys extend SURVEY.md §2's experimentation axis.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as ST

from .registry_util import QueryDef, cents, t

R7_QUERIES: dict[str, QueryDef] = {}


def _h32(col):
    """Engine-portable 32-bit hash (md5 prefix as int64) — same literal
    definition as the r5/r6 family files."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


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
                _h32(F.concat(F.lit("arm:"), F.col("user_id").cast("string")))
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
    from .registry_util import _reap_stale_tmp

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
    chk = _h32(
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


_RT_AGG_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(('0x' || substr(md5(
           CAST(doc_id AS VARCHAR) || chr(31) || text || chr(31) || lang
           || chr(31) || source || chr(31) || CAST(n_chars AS VARCHAR)
       ), 1, 8))::BIGINT) AS BIGINT) AS checksum
FROM {src} GROUP BY source ORDER BY source
"""


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

for _q in (
    QueryDef(
        "stat_proportions_ztest", _stat_proportions_ztest, _PROPZ_SQL, ("stat",)
    ),
    QueryDef("stat_ratio_delta_ci", _stat_ratio_delta_ci, _RATIO_SQL, ("stat",)),
    QueryDef(
        "source_jsonl_roundtrip",
        _source_jsonl_roundtrip,
        _RT_AGG_SQL.format(src="documents"),
        ("source",),
    ),
    QueryDef(
        "source_csv_roundtrip",
        _source_csv_roundtrip,
        _RT_AGG_SQL.format(src=_CSV_SALT_SQL),
        ("source",),
    ),
):
    R7_QUERIES[_q.name] = _q


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



def _bucket_prefix(df, arm_col, time_col, val_cols, bucket_width=64):
    """Inclusive per-arm running sums of ``val_cols`` ordered by
    ``time_col``, without a global window: within-bucket window
    (partitioned by (arm, time div bucket_width)) + a broadcast
    bucket-offset join — the reflected coarse-bucket prefix pattern of
    ``stat_logrank_test`` (registry_r6b_stat), reused here for the
    exact order-statistic quantiles. Shuffle grain is the bounded
    (arm x value) aggregate, never fact rows."""
    from pyspark.sql import Window

    gb = df.withColumn("bkt", F.expr(f"{time_col} div {bucket_width}"))
    w = (
        Window.partitionBy(arm_col, "bkt")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = gb.select(
        "*", *[F.sum(c).over(w).alias(f"_in_{c}") for c in val_cols]
    )
    btot = gb.groupBy(arm_col, "bkt").agg(
        *[F.sum(c).alias(f"_b_{c}") for c in val_cols]
    )
    offs = (
        btot.select(F.col(arm_col).alias("_a"), F.col("bkt").alias("k"))
        .join(
            F.broadcast(
                btot.select(
                    F.col(arm_col).alias("_a2"),
                    F.col("bkt").alias("k2"),
                    *[f"_b_{c}" for c in val_cols],
                )
            ),
            (F.col("_a2") == F.col("_a")) & (F.col("k2") < F.col("k")),
        )
        .groupBy("_a", "k")
        .agg(*[F.sum(f"_b_{c}").alias(f"_o_{c}") for c in val_cols])
    )
    out = within.join(
        F.broadcast(offs),
        (within[arm_col] == offs["_a"]) & (within["bkt"] == offs["k"]),
        "left",
    )
    for c in val_cols:
        out = out.withColumn(
            f"cum_{c}", F.coalesce(f"_o_{c}", F.lit(0)) + F.col(f"_in_{c}")
        )
    return out.drop(
        "_a", "k", "bkt", *[f"_in_{c}" for c in val_cols],
        *[f"_o_{c}" for c in val_cols],
    )


# --------------------------------- QUANTILE TREATMENT EFFECT (EXACT)


QTE_PCTS = (25, 50, 75, 90)
QTE_BUCKET = 512  # cents-grain prefix bucket width


def quantile_treatment_effect(events, pcts: tuple[int, ...] = QTE_PCTS):
    """Quantile treatment effects between the hash arms: the exact
    inverse-ECDF order statistics (type-1: smallest c with
    100·cum(c) ≥ p·n) of purchase value at the cents grain, per arm,
    and their differences. Mean tests miss interventions that move the
    TAILS; QTE is the standard readout for them.

    Exactness: pure int64 end-to-end — cents counts, reflected
    coarse-bucket prefix sums (the zero-global-window pattern shared
    with stat_logrank_test), and an integer threshold comparison; the
    percentile grid is a 4-row broadcast.

    Scale shape: one fact scan to the bounded (arm × cents) grain;
    everything after is at that grain. The only cross-grain joins are
    broadcasts (bucket offsets, arm totals, the percentile grid)."""
    c = events.where(F.col("event_type") == "purchase").select(
        (
            _h32(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))) % 2
        ).alias("arm"),
        cents(F.col("value")).alias("c"),
    )
    # persist the bounded (arm x cents) grain: three consumers derive
    # from it (at-risk prefix, bucket offsets, arm totals) and without
    # the cache each one re-scans + re-shuffles the FACT table — the
    # executed plan showed 3 parquet passes. With it, 100 TB pays one
    # scan and one partial-agg shuffle; the cached table is value-
    # domain-sized (metadata-scale), never row-scale.
    g = c.groupBy("arm", "c").agg(F.count(F.lit(1)).alias("d")).persist()
    tot = g.groupBy("arm").agg(F.sum("d").alias("n_arm"))
    cum = _bucket_prefix(g, "arm", "c", ["d"], bucket_width=QTE_BUCKET)
    pgrid = F.broadcast(
        events.sparkSession.createDataFrame([(p,) for p in pcts], "p int")
    )
    hit = (
        cum.join(F.broadcast(tot), "arm")
        .crossJoin(pgrid)
        .where(F.lit(100) * F.col("cum_d") >= F.col("p") * F.col("n_arm"))
        .groupBy("p", "arm")
        .agg(F.min("c").alias("q"))
    )
    wide = hit.groupBy("p").agg(
        F.min(F.when(F.col("arm") == 0, F.col("q"))).alias("q_arm0_cents"),
        F.min(F.when(F.col("arm") == 1, F.col("q"))).alias("q_arm1_cents"),
    )
    return wide.select(
        "p",
        "q_arm0_cents",
        "q_arm1_cents",
        (F.col("q_arm1_cents") - F.col("q_arm0_cents")).alias("qte_cents"),
    )


def _events_qte(spark, sf_dir):
    return quantile_treatment_effect(t(spark, sf_dir, "events"))


_QTE_SQL = f"""
WITH c AS (
  SELECT ('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
             % 2 AS arm,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
g AS (SELECT arm, c, CAST(count(*) AS BIGINT) AS d FROM c GROUP BY arm, c),
cum AS (
  SELECT arm, c,
         CAST(sum(d) OVER (PARTITION BY arm ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_d,
         CAST(sum(d) OVER (PARTITION BY arm) AS BIGINT) AS n_arm
  FROM g
),
pgrid AS (SELECT unnest({list(QTE_PCTS)}) AS p),
hit AS (
  SELECT p, arm, min(c) AS q
  FROM cum, pgrid
  WHERE 100 * cum_d >= p * n_arm
  GROUP BY p, arm
)
SELECT p,
       min(CASE WHEN arm = 0 THEN q END) AS q_arm0_cents,
       min(CASE WHEN arm = 1 THEN q END) AS q_arm1_cents,
       min(CASE WHEN arm = 1 THEN q END) - min(CASE WHEN arm = 0 THEN q END)
           AS qte_cents
FROM hit GROUP BY p ORDER BY p
"""

for _q in (
    QueryDef(
        "source_orc_roundtrip",
        _source_orc_roundtrip,
        _RT_AGG_SQL.format(src="documents"),
        ("source",),
    ),
    QueryDef(
        "events_quantile_treatment_effect", _events_qte, _QTE_SQL, ("events",)
    ),
):
    R7_QUERIES[_q.name] = _q
