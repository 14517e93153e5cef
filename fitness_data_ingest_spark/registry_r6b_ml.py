"""Round-6 continuation (r6b): model-evaluation, embedding, retrieval-fusion and spatial keys (ml_*, embed_*, rag_*, geo_*).

Mechanically split out of the former single-file registry_r6b.py
(verdict r6 item 5) with ZERO plan movement — every key, callable, SQL
oracle and tag is byte-identical; PLANHASH.json pins prove it. See the
original module docstring (now in registry_r6b.py) for the exactness
discipline and reference-parity notes shared by all r6b families.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry_util import QueryDef, cents, shared_sq8_codes, spread, t

# rag_hybrid_rrf fuses the BM25 lexical ranking (text family) with the
# ANN cosine ranking — the BM25 plan + oracle SQL live beside the other
# text keys and are composed here, not duplicated.
from .registry_r6b_text import _BM25_SQL, bm25_topk

R6B_QUERIES: dict[str, QueryDef] = {}


def _h32(col):
    """Engine-portable 32-bit hash (md5 prefix as int64) — same literal
    definition as registry_r5/r5b/r6, re-declared per family file so
    each file's SQL oracles pair with the Spark expression beside
    them."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _tok(col):
    return F.filter(F.split(col, " "), lambda x: x != "")


ML_POS = "click"

ML_NEG = "view"

ML_THRESHOLDS = (500, 1000, 2000, 4000, 6000, 8000, 12000, 20000)

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
    from pyspark.sql import Window

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
        F.explode(_tok(F.col("text"))).alias("tok"),
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

GEO_CELL = 1000          # cell side length in coordinate units

GEO_R2 = 1000 * 1000     # radius^2 (radius = one cell side)

GEO_QUERY_MOD = 20       # every 20th part is a query point

def _geo_points(part):
    """(id, x, y, cell_x, cell_y) for every part, on a coordinate
    domain of floor(sqrt(n)) cells per side (broadcast 1-row n)."""
    base = part.select(F.col("p_partkey").alias("id"))
    n1 = base.agg(F.count(F.lit(1)).alias("npts"))
    return (
        base.join(F.broadcast(n1))
        .select(
            "id",
            F.greatest(
                F.lit(1), F.floor(F.sqrt(F.col("npts").cast("double")))
            ).cast("long").alias("dcells"),
            (_h32(F.concat(F.col("id").cast("string"), F.lit("gx")))).alias("hx"),
            (_h32(F.concat(F.col("id").cast("string"), F.lit("gy")))).alias("hy"),
        )
        .select(
            "id",
            (F.col("hx") % (F.col("dcells") * GEO_CELL)).alias("x"),
            (F.col("hy") % (F.col("dcells") * GEO_CELL)).alias("y"),
        )
        .select(
            "id", "x", "y",
            F.expr(f"x div {GEO_CELL}").alias("cell_x"),
            F.expr(f"y div {GEO_CELL}").alias("cell_y"),
        )
    )

_GEO_PTS_CTE = f"""
npts AS (SELECT CAST(count(*) AS BIGINT) AS npts FROM part),
pts0 AS (
  SELECT p_partkey AS id,
         greatest(1, CAST(floor(sqrt(CAST(npts AS DOUBLE))) AS BIGINT))
             AS dcells,
         ('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || 'gx'), 1, 8))::BIGINT AS hx,
         ('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || 'gy'), 1, 8))::BIGINT AS hy
  FROM part, npts
),
pts AS (
  SELECT id, hx % (dcells * {GEO_CELL}) AS x, hy % (dcells * {GEO_CELL}) AS y,
         (hx % (dcells * {GEO_CELL})) // {GEO_CELL} AS cell_x,
         (hy % (dcells * {GEO_CELL})) // {GEO_CELL} AS cell_y
  FROM pts0
)
"""

def geo_grid_knn(part):
    """Radius-bounded nearest-neighbor spatial join: for every sampled
    query point, the count of points within radius R and the nearest
    one, found by probing only the 3x3 grid neighborhood (R = one cell
    side, so the neighborhood provably covers the ball).

    Scale shape: candidates come from ONE composite-key equi-join on
    (cell_x, cell_y) after a fixed 9-way offset expansion of the query
    side — never a distance cross-join. With floor(sqrt(n)) cells per
    side the expected occupancy is 1 point/cell at every SF, so
    per-query candidate work is O(1); the argmin is a max(struct)
    aggregate, and no-neighbor queries re-attach with one left join at
    the query grain."""
    pts = _geo_points(part)
    q = pts.where(F.col("id") % GEO_QUERY_MOD == 0)
    qx = (
        q.select(
            F.col("id").alias("qid"),
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            "cell_x",
            "cell_y",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx"),
        )
        .select(
            "qid", "qx", "qy", "cell_y",
            (F.col("cell_x") + F.col("dx")).alias("pcx"),
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"),
        )
        .select(
            "qid", "qx", "qy", "pcx",
            (F.col("cell_y") + F.col("dy")).alias("pcy"),
        )
    )
    cand = (
        qx.join(
            pts,
            (qx.pcx == pts.cell_x) & (qx.pcy == pts.cell_y),
        )
        .where(F.col("id") != F.col("qid"))
        .select(
            "qid",
            "id",
            (
                (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
                + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy"))
            ).alias("d2"),
        )
        .where(F.col("d2") <= GEO_R2)
    )
    agg = cand.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_within_r"),
        F.max(
            F.struct((-F.col("d2")).alias("nd"), (-F.col("id")).alias("ni"))
        ).alias("m"),
    )
    return (
        q.select(F.col("id").alias("qid"))
        .join(agg, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce("n_within_r", F.lit(0)).alias("n_within_r"),
            (-F.col("m.ni")).alias("nn_id"),
            (-F.col("m.nd")).alias("nn_d2"),
        )
        .orderBy("query_id")
    )

def _geo_grid_knn(spark, sf_dir):
    return geo_grid_knn(t(spark, sf_dir, "part"))

_GEO_KNN_SQL = f"""
WITH {_GEO_PTS_CTE},
q AS (SELECT * FROM pts WHERE id % {GEO_QUERY_MOD} = 0),
cand AS (
  SELECT q.id AS qid, p.id AS id,
         (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS d2
  FROM q, unnest([-1, 0, 1]) AS u1(dx), unnest([-1, 0, 1]) AS u2(dy)
  JOIN pts p
    ON p.cell_x = q.cell_x + u1.dx AND p.cell_y = q.cell_y + u2.dy
  WHERE p.id <> q.id
    AND (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= {GEO_R2}
),
agg AS (
  SELECT qid, CAST(count(*) AS BIGINT) AS n_within_r,
         min(d2) AS md2
  FROM cand GROUP BY qid
),
nn AS (
  SELECT c.qid, min(c.id) AS nn_id
  FROM cand c JOIN agg a ON c.qid = a.qid AND c.d2 = a.md2
  GROUP BY c.qid
)
SELECT q.id AS query_id,
       COALESCE(a.n_within_r, 0) AS n_within_r,
       nn.nn_id, a.md2 AS nn_d2
FROM q LEFT JOIN agg a ON q.id = a.qid LEFT JOIN nn ON q.id = nn.qid
ORDER BY query_id
"""

GEO_BOX_MAXHALF = 2000  # max rectangle half-side (covers <= 3 cells/axis)

def geo_bbox_contain(part, supplier):
    """Spatial containment join: deterministic hash-derived rectangles
    (one per supplier) against the part point cloud; per rectangle, the
    number of contained points. The rectangle explodes to the grid
    cells it covers (bounded by the literal max half-side / cell size,
    i.e. <= 5x5 cells), candidates come from the same (cell_x, cell_y)
    equi-join as the kNN key, and exact containment filters after —
    the textbook grid variant of an R-tree probe, in one shuffle."""
    pts = _geo_points(part)
    npts = part.agg(F.count(F.lit(1)).alias("npts"))
    rects = (
        supplier.select(F.col("s_suppkey").alias("rid"))
        .join(F.broadcast(npts))
        .select(
            "rid",
            F.greatest(
                F.lit(1), F.floor(F.sqrt(F.col("npts").cast("double")))
            ).cast("long").alias("dcells"),
            _h32(F.concat(F.col("rid").cast("string"), F.lit("bx"))).alias("hx"),
            _h32(F.concat(F.col("rid").cast("string"), F.lit("by"))).alias("hy"),
            (
                500 + _h32(F.concat(F.col("rid").cast("string"), F.lit("bw")))
                % (GEO_BOX_MAXHALF - 500)
            ).alias("hw"),
            (
                500 + _h32(F.concat(F.col("rid").cast("string"), F.lit("bh")))
                % (GEO_BOX_MAXHALF - 500)
            ).alias("hh"),
        )
        .select(
            "rid", "hw", "hh", "dcells",
            (F.col("hx") % (F.col("dcells") * GEO_CELL)).alias("cx"),
            (F.col("hy") % (F.col("dcells") * GEO_CELL)).alias("cy"),
        )
    )
    cells = rects.select(
        "rid", "cx", "cy", "hw", "hh", "dcells",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.expr(f"(cx - hw) div {GEO_CELL}")),
                F.least(
                    F.col("dcells") - 1, F.expr(f"(cx + hw) div {GEO_CELL}")
                ),
            )
        ).alias("ccx"),
    ).select(
        "rid", "cx", "cy", "hw", "hh", "ccx",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0), F.expr(f"(cy - hh) div {GEO_CELL}")),
                F.least(
                    F.col("dcells") - 1, F.expr(f"(cy + hh) div {GEO_CELL}")
                ),
            )
        ).alias("ccy"),
    )
    hits = (
        cells.join(
            _geo_points(part),
            (cells.ccx == F.col("cell_x")) & (cells.ccy == F.col("cell_y")),
        )
        .where(
            (F.abs(F.col("x") - F.col("cx")) <= F.col("hw"))
            & (F.abs(F.col("y") - F.col("cy")) <= F.col("hh"))
        )
        .groupBy("rid")
        .agg(F.count(F.lit(1)).alias("n_contained"))
    )
    return (
        rects.select("rid", "cx", "cy", "hw", "hh")
        .join(hits, "rid", "left")
        .select(
            F.col("rid").alias("rect_id"),
            "cx", "cy", "hw", "hh",
            F.coalesce("n_contained", F.lit(0)).alias("n_contained"),
        )
        .orderBy("rect_id")
    )

def _geo_bbox_contain(spark, sf_dir):
    return geo_bbox_contain(
        t(spark, sf_dir, "part"), t(spark, sf_dir, "supplier")
    )

_GEO_BBOX_SQL = f"""
WITH {_GEO_PTS_CTE},
rects AS (
  SELECT s_suppkey AS rid,
         greatest(1, CAST(floor(sqrt(CAST(npts AS DOUBLE))) AS BIGINT))
             AS dcells,
         ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'bx'), 1, 8))::BIGINT
             % (greatest(1, CAST(floor(sqrt(CAST(npts AS DOUBLE))) AS BIGINT))
                * {GEO_CELL}) AS cx,
         ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'by'), 1, 8))::BIGINT
             % (greatest(1, CAST(floor(sqrt(CAST(npts AS DOUBLE))) AS BIGINT))
                * {GEO_CELL}) AS cy,
         500 + ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'bw'), 1, 8))::BIGINT
             % ({GEO_BOX_MAXHALF} - 500) AS hw,
         500 + ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || 'bh'), 1, 8))::BIGINT
             % ({GEO_BOX_MAXHALF} - 500) AS hh
  FROM supplier, npts
),
cells AS (
  SELECT rid, cx, cy, hw, hh, u1.ccx, u2.ccy
  FROM rects,
       unnest(range(greatest(0, (cx - hw) // {GEO_CELL}),
                    least(dcells - 1, (cx + hw) // {GEO_CELL}) + 1)) AS u1(ccx),
       unnest(range(greatest(0, (cy - hh) // {GEO_CELL}),
                    least(dcells - 1, (cy + hh) // {GEO_CELL}) + 1)) AS u2(ccy)
),
hits AS (
  SELECT rid, CAST(count(*) AS BIGINT) AS n_contained
  FROM cells JOIN pts p ON p.cell_x = cells.ccx AND p.cell_y = cells.ccy
  WHERE abs(p.x - cells.cx) <= cells.hw AND abs(p.y - cells.cy) <= cells.hh
  GROUP BY rid
)
SELECT rects.rid AS rect_id, cx, cy, hw, hh,
       COALESCE(n_contained, 0) AS n_contained
FROM rects LEFT JOIN hits ON rects.rid = hits.rid
ORDER BY rect_id
"""

RP_OUT_DIMS = 16

RP_IN_DIMS = 64

RP_PAIR_MOD = 10

RP_HIST_BUCKET = 250000  # ratio histogram bucket width (micro units)

_SGN_SPARK = (
    f"transform(sequence(0, {RP_OUT_DIMS - 1}, 1), j -> "
    f"transform(sequence(0, {RP_IN_DIMS - 1}, 1), i -> "
    "CASE WHEN CAST(conv(substring(md5(concat('rp:', CAST(j AS STRING), "
    "':', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 "
    "THEN 1L ELSE -1L END))"
)

def random_projection_audit(embeddings, codes=None):
    """Johnson-Lindenstrauss +-1 random projection (Achlioptas 2003):
    project the 64-dim SQ8 integer codes to 16 dims with a
    hash-derived sign matrix and audit distance preservation on a
    deterministic pair sample — the dimensionality-reduction QA a
    100 TB vector pipeline runs before switching its ANN index to the
    compact representation.

    Exactness: the sign matrix, projections, and both distances are
    pure int64; the distortion ratio d2_proj/(k/d-scaled d2_orig) is
    integer micro floor-division. Scale shape: the 16x64 sign matrix
    builds ONCE as a 1-row broadcast (never per row); projection is a
    per-row array fold; the audit pairs come from an equi-join on
    adjacent sampled ids, and the histogram collapses to the bounded
    bucket grain."""
    from .ext.similarity import sq8_codes

    if codes is None:
        codes = sq8_codes(embeddings)
    signs = F.broadcast(
        embeddings.sparkSession.range(1).select(
            F.expr(_SGN_SPARK).alias("sgn")
        )
    )
    proj = codes.crossJoin(signs).select(
        "vec_id",
        "c",
        F.expr(
            f"transform(sequence(0, {RP_OUT_DIMS - 1}, 1), j -> "
            "aggregate(zip_with(c, element_at(sgn, j + 1), (x, s) -> x * s), "
            "0L, (acc, v) -> acc + v))"
        ).alias("p"),
    )
    a = proj.where(F.col("vec_id") % RP_PAIR_MOD == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("c").alias("ac"),
        F.col("p").alias("ap"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("aid"),
        F.col("c").alias("bc"),
        F.col("p").alias("bp"),
    )
    d2 = "aggregate(zip_with({x}, {y}, (u, v) -> (u - v) * (u - v)), 0L, (s, e) -> s + e)"
    pairs = (
        a.join(b, "aid")
        .select(
            "aid",
            F.expr(d2.format(x="ac", y="bc")).alias("d2o"),
            F.expr(d2.format(x="ap", y="bp")).alias("d2p"),
        )
        .where(F.col("d2o") > 0)
        .select(
            "aid",
            F.expr(
                f"(1000000 * d2p) div ({RP_OUT_DIMS} * d2o)"
            ).alias("ratio_micro"),
        )
    )
    tot = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(ratio_micro) div count(1)").alias("mean_ratio_micro"),
    )
    return (
        pairs.groupBy(
            F.expr(f"ratio_micro div {RP_HIST_BUCKET}").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(tot))
        .select("bucket", "n", "n_pairs", "mean_ratio_micro")
        .orderBy("bucket")
    )

def _embed_random_projection(spark, sf_dir):
    return random_projection_audit(
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )

_RP_SQL = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5)
                   AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
sgn AS (SELECT list_transform(range(0, {RP_OUT_DIMS}), j ->
          list_transform(range(0, {RP_IN_DIMS}), i ->
            CASE WHEN ('0x' || substr(md5('rp:' || CAST(j AS VARCHAR) || ':'
                       || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)) AS m),
proj AS (SELECT vec_id, c,
  list_transform(range(1, {RP_OUT_DIMS} + 1), j ->
    CAST(list_sum(list_transform(range(1, {RP_IN_DIMS} + 1),
                                 i -> c[i] * sgn.m[j][i])) AS BIGINT)) AS p
  FROM codes CROSS JOIN sgn),
pairs AS (
  SELECT a.vec_id AS aid,
         CAST(list_sum(list_transform(range(1, {RP_IN_DIMS} + 1),
              i -> (a.c[i] - bb.c[i]) * (a.c[i] - bb.c[i]))) AS BIGINT) AS d2o,
         CAST(list_sum(list_transform(range(1, {RP_OUT_DIMS} + 1),
              j -> (a.p[j] - bb.p[j]) * (a.p[j] - bb.p[j]))) AS BIGINT) AS d2p
  FROM proj a JOIN proj bb ON bb.vec_id = a.vec_id + 1
  WHERE a.vec_id % {RP_PAIR_MOD} = 0
),
ratios AS (
  SELECT aid, (1000000 * d2p) // ({RP_OUT_DIMS} * d2o) AS ratio_micro
  FROM pairs WHERE d2o > 0
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(ratio_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS mean_ratio_micro
  FROM ratios
)
SELECT ratio_micro // {RP_HIST_BUCKET} AS bucket,
       CAST(count(*) AS BIGINT) AS n, n_pairs, mean_ratio_micro
FROM ratios, tot
GROUP BY 1, 3, 4 ORDER BY bucket
"""

MMR_K = 5

MMR_CAND_MOD = 13

MMR_W_REL = 7

MMR_W_DIV = 3

_D2_EXPR = (
    "aggregate(zip_with({a}, {b}, (u, v) -> (u - v) * (u - v)), "
    "0L, (s, e) -> s + e)"
)

def mmr_select(embeddings, k: int = MMR_K, codes=None):
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick k items maximizing lambda*relevance -
    (1-lambda)*similarity-to-already-selected — the diversity-aware
    retrieval/curation step that keeps a training batch or RAG context
    from filling with near-duplicates. Query = vector 0; candidates are
    a deterministic id sample; all distances are exact int64 over SQ8
    codes, so the greedy argmax (score, then smallest id) is bit-stable.

    Scale shape: the k rounds unroll statically (the graph_hits
    pattern); every round is candidate-scan x broadcast-selected
    (<= k-1 rows) -> one aggregate argmax. The candidate table is
    lineage-truncated once with localCheckpoint so round r does not
    re-derive rounds 1..r-1. In production the candidate set is the
    ANN top-N, so per-query work is O(k * N)."""
    from .ext.similarity import sq8_codes

    if codes is None:
        codes = sq8_codes(embeddings)
    q = codes.where(F.col("vec_id") == 0).select(F.col("c").alias("qc"))
    cand = (
        codes.where((F.col("vec_id") % MMR_CAND_MOD == 1))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "c",
            F.expr(_D2_EXPR.format(a="c", b="qc")).alias("d2q"),
        )
        .localCheckpoint(eager=False)
    )
    pick1 = (
        cand.agg(F.min(F.struct("d2q", "vec_id")).alias("m"))
        .select(
            F.lit(1).alias("rank"),
            F.col("m.vec_id").alias("vec_id"),
            F.col("m.d2q").alias("d2_query"),
            F.lit(None).cast("long").alias("min_d2_selected"),
            (-MMR_W_REL * F.col("m.d2q")).alias("score10"),
        )
        # each pick is 1 row but feeds every LATER round's selected set:
        # without truncation round r re-evaluates picks 1..r-1's
        # aggregates (triangular re-derivation, measured ~2x wall)
        .localCheckpoint(eager=False)
    )
    picks = [pick1]
    for r in range(2, k + 1):
        sel_ids = picks[0].select("vec_id")
        for p in picks[1:]:
            sel_ids = sel_ids.unionAll(p.select("vec_id"))
        selc = cand.join(F.broadcast(sel_ids), "vec_id").select(
            F.col("c").alias("sc")
        )
        rem = cand.join(F.broadcast(sel_ids), "vec_id", "left_anti")
        scored = (
            rem.join(F.broadcast(selc))
            .select(
                "vec_id",
                "d2q",
                F.expr(_D2_EXPR.format(a="c", b="sc")).alias("d2s"),
            )
            .groupBy("vec_id", "d2q")
            .agg(F.min("d2s").alias("mind"))
        )
        picks.append(
            scored.select(
                "vec_id",
                "d2q",
                "mind",
                (
                    MMR_W_DIV * F.col("mind") - MMR_W_REL * F.col("d2q")
                ).alias("s10"),
            )
            .agg(
                F.max(
                    F.struct(
                        F.col("s10"), (-F.col("vec_id")).alias("nid")
                    )
                ).alias("m"),
                F.max(
                    F.struct(
                        F.col("s10"),
                        (-F.col("vec_id")).alias("nid"),
                        F.col("d2q"),
                        F.col("mind"),
                    )
                ).alias("mm"),
            )
            .select(
                F.lit(r).alias("rank"),
                (-F.col("m.nid")).alias("vec_id"),
                F.col("mm.d2q").alias("d2_query"),
                F.col("mm.mind").alias("min_d2_selected"),
                F.col("m.s10").alias("score10"),
            )
            .localCheckpoint(eager=False)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.orderBy("rank")

def _embed_mmr_select(spark, sf_dir):
    return mmr_select(
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )

def _mmr_sql(k: int = MMR_K) -> str:
    d2 = (
        "CAST(list_sum(list_transform(range(1, {n} + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )
    parts = [
        """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5)
                   AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
cand AS (SELECT vec_id, c, """
        + d2.format(n=RP_IN_DIMS, a="c", b="qc")
        + f""" AS d2q
        FROM codes, q WHERE vec_id % {MMR_CAND_MOD} = 1),
sel1 AS (SELECT vec_id, c, d2q FROM cand ORDER BY d2q ASC, vec_id ASC LIMIT 1)"""
    ]
    prev_sel = "sel1"
    all_sels = ["sel1"]
    for r in range(2, k + 1):
        union_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM {s}" for s in all_sels
        )
        pair_d2 = d2.format(n=RP_IN_DIMS, a="r.c", b="s.c")
        parts.append(
            f""",
ids{r} AS ({union_sel}),
selc{r} AS (SELECT c FROM cand WHERE vec_id IN (SELECT vec_id FROM ids{r})),
sc{r} AS (
  SELECT r.vec_id, r.c, r.d2q, min({pair_d2}) AS mind
  FROM (SELECT * FROM cand
        WHERE vec_id NOT IN (SELECT vec_id FROM ids{r})) r,
       selc{r} s
  GROUP BY r.vec_id, r.c, r.d2q
),
sel{r} AS (
  SELECT vec_id, c, d2q, mind
  FROM sc{r}
  ORDER BY {MMR_W_DIV} * mind - {MMR_W_REL} * d2q DESC, vec_id ASC
  LIMIT 1
)"""
        )
        prev_sel = f"sel{r}"
        all_sels.append(prev_sel)
    finals = [
        f"""SELECT 1 AS rank, vec_id, d2q AS d2_query,
       CAST(NULL AS BIGINT) AS min_d2_selected,
       {-MMR_W_REL} * d2q AS score10
FROM sel1"""
    ]
    for r in range(2, k + 1):
        finals.append(
            f"""SELECT {r} AS rank, vec_id, d2q AS d2_query,
       mind AS min_d2_selected,
       {MMR_W_DIV} * mind - {MMR_W_REL} * d2q AS score10
FROM sel{r}"""
        )
    parts.append(
        "\nSELECT * FROM ("
        + " UNION ALL ".join(f"({s})" for s in finals)
        + ") ORDER BY rank"
    )
    return "".join(parts)

RRF_C = 60

RRF_LIST_K = 15

RRF_OUT_K = 10

def hybrid_rrf(docs, embeddings, codes=None):
    """Reciprocal-rank fusion (Cormack et al. 2009) of the two
    retrieval modalities: the lexical BM25 top-k and the dense SQ8-ANN
    top-k (query = vector 0) merge by rrf(id) = sum over lists of
    1e6 div (60 + rank) — the standard hybrid-search combiner of every
    RAG stack, exact in int64 by construction.

    Scale shape: both input lists are k-bounded (each produced by the
    window-free ranked_topk), so the fusion is a k-row full-outer join
    plus one more ranked_topk — everything after the two retrieval
    scans is metadata-sized."""
    from .ext.similarity import sq8_codes
    from .ops.scale import ranked_topk

    bm = bm25_topk(docs, topk=RRF_LIST_K).select(
        F.col("doc_id").alias("id"), F.col("rnk").alias("bm25_rnk")
    )
    if codes is None:
        codes = sq8_codes(embeddings)
    q = codes.where(F.col("vec_id") == 0).select(F.col("c").alias("qc"))
    dists = (
        codes.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(_D2_EXPR.format(a="c", b="qc")).alias("d2"),
        )
    )
    ann = ranked_topk(
        dists, [("d2", "asc"), ("vec_id", "asc")], RRF_LIST_K
    ).select(F.col("vec_id").alias("id"), F.col("rnk").alias("ann_rnk"))
    fused = bm.join(ann, "id", "full_outer").select(
        "id",
        "bm25_rnk",
        "ann_rnk",
        (
            F.coalesce(
                F.expr(f"1000000 div ({RRF_C} + bm25_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 div ({RRF_C} + ann_rnk)"), F.lit(0)
            )
        ).alias("rrf_micro"),
    )
    return ranked_topk(
        fused, [("rrf_micro", "desc"), ("id", "asc")], RRF_OUT_K,
        rank_name="fused_rank",
    ).select("fused_rank", "id", "rrf_micro", "bm25_rnk", "ann_rnk")

def _rag_hybrid_rrf(spark, sf_dir):
    return hybrid_rrf(
        t(spark, sf_dir, "documents"),
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )

_RRF_SQL = f"""
WITH bm AS (
  SELECT doc_id AS id, rnk AS bm25_rnk FROM ({_BM25_SQL})
),
e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5)
                   AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
qv AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
dists AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, {RP_IN_DIMS} + 1),
              i -> (c[i] - qc[i]) * (c[i] - qc[i]))) AS BIGINT) AS d2
  FROM codes, qv WHERE vec_id <> 0
),
ann AS (
  SELECT vec_id AS id,
         CAST(row_number() OVER (ORDER BY d2 ASC, vec_id ASC) AS BIGINT)
             AS ann_rnk
  FROM dists ORDER BY d2 ASC, vec_id ASC LIMIT {RRF_LIST_K}
),
fused AS (
  SELECT COALESCE(bm.id, ann.id) AS id, bm25_rnk, ann_rnk,
         COALESCE(1000000 // ({RRF_C} + bm25_rnk), 0)
         + COALESCE(1000000 // ({RRF_C} + ann_rnk), 0) AS rrf_micro
  FROM bm FULL OUTER JOIN ann ON bm.id = ann.id
)
SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, id ASC) AS BIGINT)
           AS fused_rank,
       id, rrf_micro, bm25_rnk, ann_rnk
FROM fused ORDER BY rrf_micro DESC, id ASC LIMIT {RRF_OUT_K}
"""

MRL_PREFIX_DIMS = 16

MRL_QUERY_MOD = 50

MRL_QUERY_REM = 3

MRL_K = 10

def matryoshka_recall(embeddings, codes=None):
    """Matryoshka-representation evaluation (Kusupati et al. 2022):
    for each sampled query, the top-k neighbor overlap between the full
    64-dim SQ8 distance and the 16-dim PREFIX distance — the number
    that says whether truncated embeddings are good enough to serve
    retrieval at a fraction of the memory.

    Exactness: both distances are int64 over the same SQ8 codes; the
    per-query top-k rank is a window partitioned BY QUERY (queries are
    the parallelism — the embed_knn_graph discipline) with (d2, id)
    tie-breaks; overlap is an integer count. One candidate equi-join
    per representation, bounded by the sampled query count.

    The distance kernel is a vectorized Arrow/NumPy pandas_udf (r12,
    guide §4.2): INTEGER sums of squares commute, so the NumPy int64
    kernel is bit-identical to the old JVM HOF fold under any batching
    (probe-verified value-identical; no overflow — max 64·255² ≈ 2²²).
    The HOF fold evaluated its lambda per element interpreted
    (~1 s of the old ~1.8 s query for 80k pairs × 80 dims); the batch
    kernel does the same arithmetic in two BLAS-free ufunc passes.
    The candidate side is repartitioned before scoring (the
    with_minhash discipline: the fixture's single-file scan would pin
    the kernel to one task; at real scale the scan already has splits
    and this is one cheap code-table shuffle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    from .ext.similarity import sq8_codes

    if codes is None:
        codes = sq8_codes(embeddings)

    def _full(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        d = np.stack(a.values).astype(np.int64) - np.stack(b.values).astype(
            np.int64
        )
        return pd.Series((d * d).sum(axis=1))

    def _pre(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        p = MRL_PREFIX_DIMS
        d = np.stack(a.values)[:, :p].astype(np.int64) - np.stack(
            b.values
        )[:, :p].astype(np.int64)
        return pd.Series((d * d).sum(axis=1))

    # real annotation objects (this module stringifies inline hints via
    # `from __future__ import annotations`, which pandas_udf rejects)
    for _fn in (_full, _pre):
        _fn.__annotations__ = {
            "a": pd.Series, "b": pd.Series, "return": pd.Series
        }
    _d2_full = pandas_udf(_full, "long")
    _d2_pre = pandas_udf(_pre, "long")

    q = codes.where(
        F.col("vec_id") % MRL_QUERY_MOD == MRL_QUERY_REM
    ).select(F.col("vec_id").alias("qid"), F.col("c").alias("qc"))
    cand = spread(codes, F.col("vec_id")).select(
        F.col("vec_id").alias("cid"), F.col("c").alias("cc")
    )
    pairs = (
        cand.join(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            _d2_full("qc", "cc").alias("d2_full"),
            _d2_pre("qc", "cc").alias("d2_pre"),
        )
    )
    wf = Window.partitionBy("qid").orderBy("d2_full", "cid")
    wp = Window.partitionBy("qid").orderBy("d2_pre", "cid")
    ranked = pairs.select(
        "qid",
        "cid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    per_q = ranked.groupBy("qid").agg(
        F.sum(
            F.when((F.col("rf") <= MRL_K) & (F.col("rp") <= MRL_K), 1).otherwise(0)
        ).alias("n_overlap")
    )
    # per_q (query grain — bounded by the sample count) feeds BOTH the
    # recall total and the output join; persist so the pair scoring +
    # double-window pipeline executes once, not twice (r12; the plan
    # showed the whole subtree duplicated). persist (not an eager
    # checkpoint) keeps the kernel lineage visible to the plan gates
    # and costs one 40-row cache entry.
    per_q = per_q.persist()
    tot = per_q.agg(
        F.expr(f"(1000000 * sum(n_overlap)) div (count(1) * {MRL_K})").alias(
            "recall_micro"
        )
    )
    return (
        per_q.join(F.broadcast(tot))
        .select("qid", "n_overlap", "recall_micro")
        .orderBy("qid")
    )

def _embed_matryoshka_recall(spark, sf_dir):
    return matryoshka_recall(
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )

_MRL_SQL = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5)
                   AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
pairs AS (
  SELECT q.vec_id AS qid, c2.vec_id AS cid,
         CAST(list_sum(list_transform(range(1, {RP_IN_DIMS} + 1),
              i -> (q.c[i] - c2.c[i]) * (q.c[i] - c2.c[i]))) AS BIGINT)
             AS d2_full,
         CAST(list_sum(list_transform(range(1, {MRL_PREFIX_DIMS} + 1),
              i -> (q.c[i] - c2.c[i]) * (q.c[i] - c2.c[i]))) AS BIGINT)
             AS d2_pre
  FROM (SELECT * FROM codes
        WHERE vec_id % {MRL_QUERY_MOD} = {MRL_QUERY_REM}) q
  JOIN codes c2 ON c2.vec_id <> q.vec_id
),
ranked AS (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY d2_full, cid) AS rf,
         row_number() OVER (PARTITION BY qid ORDER BY d2_pre, cid) AS rp
  FROM pairs
),
per_q AS (
  SELECT qid,
         CAST(sum(CASE WHEN rf <= {MRL_K} AND rp <= {MRL_K} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
  FROM ranked GROUP BY qid
),
tot AS (
  SELECT (1000000 * CAST(sum(n_overlap) AS BIGINT))
             // (CAST(count(*) AS BIGINT) * {MRL_K}) AS recall_micro
  FROM per_q
)
SELECT qid, n_overlap, recall_micro FROM per_q, tot ORDER BY qid
"""

def embed_drift(embeddings, codes=None):
    """Embedding-distribution drift between the label-0 and label-1
    halves: per-dimension mean shift (SQ8-code units) and the overall
    centroid L2 distance — the retrain/reindex alarm a vector store
    monitors between snapshots.

    Exactness: per-dim code sums are int64; the per-dim normalized
    shift n0*n1-cross-multiplied stays integer (no division until the
    final micro-quantized distance). Scale shape: one posexplode
    shuffle to the (dim x label) grain — bounded by dims — then a
    dim-grain join and one 1-row rollup."""
    from .ext.similarity import sq8_codes

    lab = embeddings.select("vec_id", (F.col("vec_id") % 2).alias("lab"))
    if codes is None:
        codes = sq8_codes(embeddings)
    codes = codes.join(lab, "vec_id")
    dims = codes.select(
        "lab", F.posexplode(F.col("c")).alias("pos", "v")
    )
    per = dims.groupBy("pos", "lab").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    wide = (
        per.groupBy("pos")
        .agg(
            F.sum(F.when(F.col("lab") == 0, F.col("n"))).alias("n0"),
            F.sum(F.when(F.col("lab") == 0, F.col("sv"))).alias("s0"),
            F.sum(F.when(F.col("lab") == 1, F.col("n"))).alias("n1"),
            F.sum(F.when(F.col("lab") == 1, F.col("sv"))).alias("s1"),
        )
        .select(
            "pos",
            # mean shift in milli-code units, integer cross-multiplied
            F.expr(
                "(1000 * (s0 * n1 - s1 * n0)) div (n0 * n1)"
            ).alias("shift_milli"),
        )
    )
    return wide.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.max(F.abs(F.col("shift_milli"))).alias("max_abs_shift_milli"),
        F.floor(
            F.sqrt(
                F.sum(
                    F.col("shift_milli").cast("double")
                    * F.col("shift_milli").cast("double")
                )
                / 1.0e6
            )
            * 1000
            + F.lit(0.5)
        ).alias("centroid_l2_milli"),
    )

def _embed_drift_centroid(spark, sf_dir):
    return embed_drift(
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )

_DRIFT_EMB_SQL = """
WITH e AS (SELECT vec_id, vec_id % 2 AS lab,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id, lab,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5)
                   AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
dims AS (
  SELECT lab, u.i - 1 AS pos, c[u.i] AS v
  FROM codes, unnest(range(1, len(c) + 1)) AS u(i)
),
per AS (
  SELECT pos, lab, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv
  FROM dims GROUP BY 1, 2
),
wide AS (
  SELECT pos,
         (1000 * (sum(CASE WHEN lab = 0 THEN sv END)
                  * sum(CASE WHEN lab = 1 THEN n END)
                  - sum(CASE WHEN lab = 1 THEN sv END)
                    * sum(CASE WHEN lab = 0 THEN n END)))
             // (sum(CASE WHEN lab = 0 THEN n END)
                 * sum(CASE WHEN lab = 1 THEN n END)) AS shift_milli
  FROM per GROUP BY pos
)
SELECT CAST(count(*) AS BIGINT) AS n_dims,
       CAST(max(abs(shift_milli)) AS BIGINT) AS max_abs_shift_milli,
       CAST(floor(sqrt(sum(CAST(shift_milli AS DOUBLE)
                           * CAST(shift_milli AS DOUBLE)) / 1.0e6)
                  * 1000 + 0.5) AS BIGINT) AS centroid_l2_milli
FROM wide
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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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


for _q in (
    QueryDef("ml_threshold_sweep", _ml_threshold_sweep, _THR_SQL, ("ml",)),
    QueryDef("ml_lift_gains", _ml_lift_gains, _LIFT_SQL, ("ml",)),
    QueryDef(
        "ml_calibration_bins", _ml_calibration_bins, _CALIB_SQL, ("ml",)
    ),
    QueryDef("ml_naive_bayes", _ml_naive_bayes, _NB_SQL, ("ml",)),
    QueryDef("geo_grid_knn", _geo_grid_knn, _GEO_KNN_SQL, ("geo",)),
    QueryDef("geo_bbox_contain", _geo_bbox_contain, _GEO_BBOX_SQL, ("geo",)),
    QueryDef(
        "embed_random_projection",
        _embed_random_projection,
        _RP_SQL,
        ("embed",),
    ),
    QueryDef(
    "embed_mmr_select", _embed_mmr_select, _mmr_sql(), ("embed",)
),
    QueryDef(
    "rag_hybrid_rrf", _rag_hybrid_rrf, _RRF_SQL, ("rag",)
),
    QueryDef(
    "embed_matryoshka_recall",
    _embed_matryoshka_recall,
    _MRL_SQL,
    ("embed",),
),
    QueryDef(
    "embed_drift_centroid", _embed_drift_centroid, _DRIFT_EMB_SQL, ("embed",)
),
    QueryDef(
    "ml_average_precision", _ml_average_precision, _AP_SQL, ("ml",)
),
    QueryDef(
    "ml_ndcg_ann", _ml_ndcg_ann, _NDCG_SQL, ("ml",)
),
):
    R6B_QUERIES[_q.name] = _q
