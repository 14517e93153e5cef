"""Corpus-construction operators for large-scale training-data pipelines:
sequence packing, vocabulary statistics, deterministic mixture sampling,
PII redaction, embedding-dimension audits, anomaly flagging, and funnel
attribution.

All batch paths are JVM-side built-in expressions (codegen'd, zero
Python in the row path). Cross-engine determinism follows the house
rules: md5-based hashing, integer-exact aggregation (scaled longs
summed order-independently), and floor(x*s + 0.5)/s rounding mirrored
into every oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text as TX
from ..ops.scale import ranked_topk, spread

# Token budget for one packed training sequence (small so fixture docs
# produce several chunks per source; production would use 2048/4096).
PACK_BUDGET = 256

# Packing is windowed per (source, shard): a shard caps the number of
# rows any single window partition holds, so the sort stays bounded no
# matter how many documents one source contributes at 100 TB. Packing
# is inherently sequential *within* a shard (chunk boundaries depend on
# the running total), but shards pack independently in parallel.
PACK_SHARD_DOCS = 100_000

# Mixture sampling keeps a document when the top 16 bits of
# md5(doc_id) fall under rate * 2^16 — deterministic, engine-portable,
# and stable under reruns/backfills (no RNG state).
MIX_HI_RATE = 0.75
MIX_LO_RATE = 0.25
_MIX_DENOM = 1 << 16


def _hash16(col: F.Column) -> F.Column:
    """Top 16 bits of md5 of a string column, as long in [0, 65536)."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def pack_chunks(docs: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid end-to-end
    in doc_id order within each (source, shard) and cut into
    fixed-token-budget chunks; a document belongs to the chunk its
    first token lands in.

    Per-chunk stats are what a packing job needs to emit for audit:
    how many documents landed in each chunk and how full it is.
    """
    n_tok = F.size(TX.tokens(F.col("text"))).cast("long")
    shard = F.floor(F.col("doc_id") / F.lit(PACK_SHARD_DOCS)).cast("long")
    w = Window.partitionBy("source", "shard").orderBy("doc_id")
    staged = (
        docs.select("doc_id", "source", n_tok.alias("n_tok"))
        .withColumn("shard", shard)
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn(
            "chunk_id",
            F.floor((F.col("cum") - F.col("n_tok")) / budget).cast("long"),
        )
    )
    return staged.groupBy("source", "shard", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("chunk_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def vocab_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus vocabulary: term frequency + document frequency, top-k
    terms by TF. Global top-k via orderBy().limit() — a distributed
    TakeOrderedAndProject (per-partition heaps merged on the driver),
    never a single-partition global window; the rank is re-derived on
    the <= k survivors only.
    """
    tok = docs.select(
        F.col("doc_id"), F.explode(TX.tokens(F.col("text"))).alias("term")
    )
    agg = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return ranked_topk(agg, [("tf", "desc"), ("term", "asc")], k)


def mixture_sample(docs: DataFrame) -> DataFrame:
    """Deterministic per-source mixture sampling — the domain-weighting
    step of a data-mixing pipeline. Sources whose last digit is even
    keep MIX_HI_RATE of documents, odd keep MIX_LO_RATE; the keep
    decision hashes doc_id so it is reproducible across reruns and
    engines (no RNG). Emits per-source audit counts.
    """
    last = F.substring(F.col("source"), -1, 1)
    even = last.isin("0", "2", "4", "6", "8")
    rate = F.when(even, F.lit(MIX_HI_RATE)).otherwise(F.lit(MIX_LO_RATE))
    threshold = F.floor(rate * _MIX_DENOM).cast("long")
    kept = (_hash16(F.col("doc_id").cast("string")) < threshold).cast("long")
    out = docs.select("source", kept.alias("kept")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
    )
    achieved = F.col("n_kept").cast("double") / F.col("n_docs")
    return out.withColumn(
        "achieved_rate4", F.floor(achieved * 10000 + F.lit(0.5)) / 10000.0
    )


def embedding_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension audit of an embedding column: count, exact sum in
    micro-units, and min/max. The sum scales each float to an integer
    (floor(v * 1e6)) and sums longs — order-independent, so the
    aggregate is bit-stable under any partitioning/combining order,
    unlike a float sum. The mean re-derives from the exact sum.

    Plan shape: posexplode (narrow) then one groupBy on the 64-value
    dim key — partial aggregation does almost all the work map-side.
    """
    e = emb.select(F.posexplode("embedding").alias("dim", "v"))
    micro = F.floor(F.col("v").cast("double") * 1e6).cast("long")
    out = e.select("dim", micro.alias("micro"), F.col("v").cast("double").alias("vd"))
    agg = out.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("micro").alias("sum_micro"),
        F.min("vd").alias("min_v"),
        F.max("vd").alias("max_v"),
    )
    mean = F.col("sum_micro").cast("double") / F.col("n_vecs") / 1e6
    return agg.withColumn("mean6", F.floor(mean * 1e6 + F.lit(0.5)) / 1e6)


def anomaly_zscore(events: DataFrame, z_cut: int = 3) -> DataFrame:
    """Per-event-type z-score outlier audit from exact integer moments:
    values are scaled to int64 cents, and sum / sum-of-squares are
    summed exactly, so mean and variance are bit-identical regardless
    of partitioning. The outlier test |z| > z_cut is evaluated in the
    equivalent polynomial form (c*n - sc)^2 > z^2 * (n*sq - sc^2) with
    both sides cast to double through the same expression, so both
    engines make identical flag decisions. (At 100 TB the moments
    would accumulate in decimal(38,0); int64 is ample for fixture SFs.)
    """
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per = events.select("event_type", c.alias("c"))
    mom = per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    joined = per.join(F.broadcast(mom), "event_type")
    lhs = (F.col("c") * F.col("n") - F.col("sc")).cast("double")
    rhs = (F.col("n") * F.col("sq") - F.col("sc") * F.col("sc")).cast("double")
    flag = (lhs * lhs > F.lit(float(z_cut * z_cut)) * rhs).cast("long")
    out = joined.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(flag).alias("n_outliers"),
        F.max("sc").alias("sc"),
        F.max("sq").alias("sq"),
    )
    mean = F.col("sc").cast("double") / F.col("n") / 100.0
    var = (
        (F.col("n") * F.col("sq") - F.col("sc") * F.col("sc")).cast("double")
        / (F.col("n") * F.col("n")).cast("double")
    )
    std = F.sqrt(var) / 100.0
    return out.select(
        "event_type",
        "n",
        "n_outliers",
        (F.floor(mean * 1e4 + F.lit(0.5)) / 1e4).alias("mean4"),
        (F.floor(std * 1e4 + F.lit(0.5)) / 1e4).alias("std4"),
    )


def curation_funnel(docs: DataFrame, quality_min: float = 0.45) -> DataFrame:
    """End-to-end corpus-curation audit — the per-source survivor counts
    of the canonical training-data pipeline: quality gate → language
    gate → exact-dedup canonical pick → mixture keep.

    Stage flags CASCADE per document inside one scan (stage k is stage
    k-1 AND its own predicate), so the whole four-stage funnel costs one
    table scan plus one window shuffle (the dedup canonical pick: min
    surviving doc_id per md5(text), computed over the hash partitioning
    — no self-join, no second scan). Dedup is corpus-global while
    counts aggregate per source. Every predicate is deterministic and
    engine-portable: the quality score's double is built from the same
    IEEE ops in both engines, and the mixture keep reuses the md5-based
    rule of mixture_sample (no RNG).
    """
    toks = TX.tokens(F.col("text"))
    pass_q = TX.quality_score(F.col("text"), toks) >= quality_min
    staged = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        pass_q.alias("pq"),
        (pass_q & (F.col("lang") == "en")).alias("pl"),
    )
    w = Window.partitionBy("h")
    min_survivor = F.min(F.when(F.col("pl"), F.col("doc_id"))).over(w)
    staged = staged.withColumn(
        "canon", F.col("pl") & (F.col("doc_id") == min_survivor)
    )
    last = F.substring(F.col("source"), -1, 1)
    even = last.isin("0", "2", "4", "6", "8")
    rate = F.when(even, F.lit(MIX_HI_RATE)).otherwise(F.lit(MIX_LO_RATE))
    threshold = F.floor(rate * _MIX_DENOM).cast("long")
    keep = F.col("canon") & (_hash16(F.col("doc_id").cast("string")) < threshold)
    staged = staged.withColumn("keep", keep)
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("pq").cast("long")).alias("n_quality"),
        F.sum(F.col("pl").cast("long")).alias("n_lang"),
        F.sum(F.col("canon").cast("long")).alias("n_canonical"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    )


def linear_fit(
    df: DataFrame, group_col: str, x_long: F.Column, y_cents: F.Column
) -> DataFrame:
    """Per-group OLS line + Pearson r from EXACT integer moments.

    The built-in ``corr``/``regr_slope`` aggregate floats, whose sum
    order varies with partitioning — results drift in the last ulp
    between runs and engines. Here x (integral long) and y (int64
    cents) accumulate n/Σx/Σy/Σx²/Σxy/Σy² as decimal(38,0) — exact,
    order-independent, map-side combinable (one shuffle of six numbers
    per group; DuckDB mirrors with int128). The moment combination
    (n·Σxy − ΣxΣy etc.) stays exact and casts to double at single,
    mirrored points, so both engines execute identical IEEE arithmetic.
    """
    d38 = "decimal(38,0)"
    agg = (
        df.select(
            F.col(group_col),
            x_long.cast(d38).alias("x"),
            y_cents.cast(d38).alias("y"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # degenerate groups (zero variance in x or y) have no defined
    # slope/correlation: NULL, guarded BEFORE the division so ANSI mode
    # never sees a zero divisor; the oracle mirrors with CASE WHEN
    slope_c = F.when(vx > 0, cov / vx)  # cents of y per unit of x

    def r6(c: F.Column) -> F.Column:
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    intercept = (
        (F.col("sy").cast("double") - slope_c * F.col("sx").cast("double"))
        / F.col("n").cast("double")
    ) / 100.0
    corr = F.when((vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy)))
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        r6(slope_c / 100.0).alias("slope6"),
        r6(intercept).alias("intercept6"),
        r6(corr).alias("corr6"),
    )


def mode_per_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Most frequent value per group (the mode), as a pure two-phase
    aggregate: count per (group, value), then argmax via a min-struct
    over (-count, value) — ties break to the lexicographically smallest
    value, deterministically.

    The argmax is an AGGREGATE, not a rank window: partial min-structs
    combine map-side and the shuffle moves one struct per (group,
    value) — at 100 TB a per-group window would sort every count row
    while this reduces them. (Same plan family as the IVF cell
    assignment.)"""
    counts = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    packed = counts.groupBy("g").agg(
        F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("v"))).alias("top")
    )
    return packed.select(
        F.col("g").alias(group_col),
        F.col("top.v").alias(f"mode_{value_col}"),
        (-F.col("top.nc")).alias("n"),
    )


def cooccurrence_topk(
    df: DataFrame, group_col: str, item_col: str, k: int = 25
) -> DataFrame:
    """Within-group item co-occurrence — market-basket affinity over
    orders, token co-occurrence over documents, any (group, item) pair
    source.

    Pair generation is ONE partial-aggregated ``collect_set`` shuffle on
    the group key, then the ordered pairs expand IN PLACE with
    higher-order array functions (a generate — no self-join, no second
    full shuffle of the fact table; the earlier self-equi-join
    formulation paid an extra shuffle of both sides for the same
    candidate set). Fan-out stays bounded by the per-group distinct-item
    count squared (an order holds a dozen parts at any corpus size),
    never a cross-group all-pairs. Counting is one partial-agg groupBy
    on the pair key; the global top-k is limit-then-rank (distributed
    TakeOrderedAndProject, rank re-derived on the <= k survivors)."""
    baskets = df.groupBy(F.col(group_col).alias("g")).agg(
        F.collect_set(F.col(item_col)).alias("items")
    )
    pair_expr = F.expr(
        "flatten(transform(items, x -> transform("
        "filter(items, y -> y > x), y -> struct(x AS item_a, y AS item_b))))"
    )
    pairs = baskets.select(F.explode(pair_expr).alias("p")).select(
        "p.item_a", "p.item_b"
    )
    agg = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    return ranked_topk(
        agg, [("n_groups", "desc"), ("item_a", "asc"), ("item_b", "asc")], k
    )


def source_composition(docs: DataFrame) -> DataFrame:
    """Per-source corpus composition report — the mixture audit a data
    curator reads before weighting sources: document count, exact char
    volume, language diversity, share of corpus, mean document length.

    The corpus total enters the plan as a 1-row aggregate broadcast
    crossJoin (house pattern, cf. tfidf): no eager ``count()`` action,
    single-job execution, and the share column never needs a global
    window. Per-source aggregation is one shuffle with map-side partial
    aggregation on a low-cardinality key.
    """
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("total_docs"))
    out = per.crossJoin(F.broadcast(total))
    share = F.col("n_docs").cast("double") / F.col("total_docs")
    mean_chars = F.col("sum_chars").cast("double") / F.col("n_docs")
    return out.select(
        "source",
        "n_docs",
        "sum_chars",
        "n_langs",
        (F.floor(share * 1e6 + F.lit(0.5)) / 1e6).alias("share6"),
        (F.floor(mean_chars * 100 + F.lit(0.5)) / 100.0).alias("mean_chars2"),
    )


def retention_cohort(events: DataFrame) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by the epoch-week
    of their first event (cohort), counted distinct in every later week
    they reappear. The canonical activation/retention analysis.

    The cohort week comes from a min window over the SAME user_id
    partitioning the activity rows already need — one shuffle, no
    self-join; the matrix itself is a distinct-count aggregate on the
    (cohort, offset, user) key. Epoch-week arithmetic (floor of epoch
    seconds / 604800) is engine-portable, unlike calendar week-of-year
    which differs across ISO conventions.
    """
    wk = F.floor(F.unix_timestamp(F.col("ts")) / F.lit(604800)).cast("long")
    w = Window.partitionBy("user_id")
    staged = events.select("user_id", wk.alias("wk")).withColumn(
        "cohort_wk", F.min("wk").over(w)
    )
    return (
        staged.select(
            "user_id",
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("weeks_since"),
        )
        .groupBy("cohort_wk", "weeks_since")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def funnel_counts(events: DataFrame) -> DataFrame:
    """Strict-order funnel (view -> click -> purchase) per user, then
    corpus-level stage counts. Stage timestamps cascade through window
    minima over the SAME user partitioning, so the whole funnel costs
    exactly one shuffle (no repeated scans, no self-joins):
    t1 = first view, t2 = first click after t1, t3 = first purchase
    after t2.
    """
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = events.select("user_id", "event_type", "ts").withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t3", t3)
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.when(F.col("t1").isNotNull(), 1)).alias("n_viewed"),
        F.count(F.when(F.col("t2").isNotNull(), 1)).alias("n_clicked_after_view"),
        F.count(F.when(F.col("t3").isNotNull(), 1)).alias("n_purchased_after_click"),
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_overlap(
    docs: DataFrame,
    chunk: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG/pretraining prep step
    that splits each document into ``chunk``-token windows advancing by
    ``stride`` (overlap = chunk - stride), the final window clamped at
    the document tail.

    Entirely JVM expressions (split → sequence → explode → slice →
    array_join): the chunk fan-out is a generate inside the scan
    projection — zero shuffle, no Python row path, and each document's
    chunks stay on its input partition (the packing/sharding step
    downstream owns any re-distribution).
    """
    n_chunks = (
        f"CASE WHEN size(toks) <= {chunk} THEN 1 "
        f"ELSE CAST((size(toks) - {chunk} + {stride} - 1) div {stride} AS INT) + 1 END"
    )
    return (
        docs.select(
            F.col(id_col),
            F.expr(f"filter(split({text_col}, ' '), x -> x != '')").alias("toks"),
        )
        .select(
            id_col,
            "toks",
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("ci"),
        )
        .select(
            id_col,
            F.col("ci").cast("long").alias("chunk_idx"),
            F.expr(f"CAST(size(slice(toks, ci * {stride} + 1, {chunk})) AS BIGINT)").alias(
                "n_tok"
            ),
            F.expr(f"array_join(slice(toks, ci * {stride} + 1, {chunk}), ' ')").alias(
                "chunk_text"
            ),
        )
    )


def chunk_overlap_udtf_class(chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE):
    """Python UDTF (Spark 4 user-defined TABLE function) computing the
    same overlapping chunks as :func:`chunk_overlap` — the capability
    demo for procedural row-expanding logic that SQL can't express.

    Deliberately NOT the registered path: UDTFs are the Python slow
    path (row-at-a-time eval), and chunking IS SQL-expressible — the
    JVM expression form stays the production operator, and a pytest
    pins this UDTF's output to it row-for-row so the two surfaces can
    never drift. Use the UDTF shape only when the per-row expansion
    logic genuinely needs Python (stateful tokenizers, C extensions).
    """

    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            toks = [t for t in (text or "").split(" ") if t]
            n = len(toks)
            n_chunks = 1 if n <= chunk else (n - chunk + stride - 1) // stride + 1
            for ci in range(n_chunks):
                window = toks[ci * stride : ci * stride + chunk]
                yield doc_id, ci, len(window), " ".join(window)

    return ChunkDoc


DOMAIN_CAP_K = 10


def domain_cap(docs: DataFrame, k: int = DOMAIN_CAP_K) -> DataFrame:
    """Per-source document cap — the anti-domination sampler every
    web-scale corpus applies (CommonCrawl-style pipelines cap pages
    per host so one mirror farm can't own the training mix). Keeps a
    deterministic uniform sample of at most ``k`` docs per source:
    rank by (md5(doc_id), doc_id) — a fixed pseudo-random total order
    both engines compute identically — and keep rank <= k.

    Scale shape: :func:`~fitness_data_ingest_spark.ops.scale.grouped_topk`
    (salted two-level top-k), so a whale domain never funnels through
    one reducer — the naive per-domain window is exactly where a 10%%
    hot host stalls the stage at 100 TB.

    Output: the surviving doc rows (doc_id, source, n_chars, pick).
    """
    from ..ops.scale import grouped_topk

    staged = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("pick"),
    )
    return grouped_topk(
        staged, "source", [("pick", "asc"), ("doc_id", "asc")], k
    )


def cooccurrence_lift_topk(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 25,
    min_pair: int = 2,
) -> DataFrame:
    """Association-rule LIFT over within-group co-occurrence —
    lift(a,b) = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b) — the
    market-basket strength metric that corrects raw pair counts for
    item popularity (the completion of :func:`cooccurrence_topk`,
    which ranks by raw support).

    Shape: the pair table reuses the single collect_set shuffle + HOF
    in-place expansion; item supports are one distinct + groupBy on
    (item); N rides in as a 1-row broadcast. Supports join onto the
    pair aggregate by equi key (item-grain — shuffle join at scale,
    broadcast when it fits). Exact integer counts; lift evaluated in
    one fixed double expression. Output: top-``k`` by (lift desc,
    item_a, item_b) among pairs with support >= ``min_pair``.
    """
    from ..ops.scale import ranked_topk

    g = F.col(group_col).alias("g")
    it = F.col(item_col).alias("i")
    gi = df.select(g, it).distinct()
    # NOTE (r11): truncating gi's lineage here (localCheckpoint) was
    # tried and REVERTED — the (group, item) grain is fact-sized, so
    # materializing it costs as much as the 3 extra re-derivations it
    # saves (same-sitting A/B measured 1.02, i.e. a wash at sf0.1).
    baskets = gi.groupBy("g").agg(F.collect_set("i").alias("items"))
    pair_expr = F.expr(
        "flatten(transform(items, x -> transform("
        "filter(items, y -> y > x), y -> struct(x AS item_a, y AS item_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair)
    )
    support = gi.groupBy(F.col("i")).agg(F.count(F.lit(1)).alias("n_i"))
    n_groups = gi.select("g").distinct().agg(F.count(F.lit(1)).alias("n_g"))
    lifted = (
        pairs.join(
            support.select(F.col("i").alias("item_a"), F.col("n_i").alias("n_a")),
            "item_a",
        )
        .join(
            support.select(F.col("i").alias("item_b"), F.col("n_i").alias("n_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_groups))
    )
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_g").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    scored = lifted.select(
        "item_a",
        "item_b",
        "n_ab",
        (F.floor(lift * 10000 + F.lit(0.5)) / 10000.0).alias("lift4"),
    )
    return ranked_topk(
        scored, [("lift4", "desc"), ("item_a", "asc"), ("item_b", "asc")], k
    )


MIX_TAU_BUDGET_PCT = 50


def mixture_plan(
    docs: DataFrame, budget_pct: int = MIX_TAU_BUDGET_PCT
) -> DataFrame:
    """Temperature-scaled source mixture planning (τ = 0.5) — the data
    recipe step of LLM corpus curation: upweight small sources and
    downweight dominant ones by giving source i the target share
    avail_i^τ / Σ_j avail_j^τ of a global token budget, then clamp each
    source's sampling rate at 1 (can't sample more than exists).

    The τ=0.5 form is the sqrt reweighting used in multilingual /
    multi-corpus training mixes. Weights are FLOOR(sqrt(chars)) — an
    integer per source — so the normalizing total is an exact int64
    sum (a float sum of sqrts would be partition-order-dependent and
    could flip a rounding tie between engines); the budget is an
    integer percentage of total chars.

    Shape: one per-source aggregate (source-grain, tiny) + a 1-row
    total broadcast — the plan costs one scan regardless of corpus
    size. Output per source: avail_chars, share4, target_chars,
    rate4.
    """
    per = docs.groupBy("source").agg(
        F.sum(F.col("n_chars").cast("long")).alias("avail_chars")
    )
    per = per.withColumn(
        "sq_w", F.floor(F.sqrt(F.col("avail_chars").cast("double"))).cast("long")
    )
    tot = per.agg(
        F.sum("sq_w").alias("sq_tot"),
        F.sum("avail_chars").alias("chars_tot"),
    )
    j = per.crossJoin(F.broadcast(tot))
    share = F.col("sq_w").cast("double") / F.col("sq_tot").cast("double")
    budget = (F.col("chars_tot") * budget_pct).cast("double") / 100.0
    target = F.floor(budget * share).cast("long")
    rate = F.least(
        F.lit(1.0),
        target.cast("double") / F.col("avail_chars").cast("double"),
    )
    return j.select(
        "source",
        "avail_chars",
        (F.floor(share * 10000 + F.lit(0.5)) / 10000.0).alias("share4"),
        target.alias("target_chars"),
        (F.floor(rate * 10000 + F.lit(0.5)) / 10000.0).alias("rate4"),
    )


CDC_MASK = 16


def cdc_chunk_stats(docs: DataFrame, mask: int = CDC_MASK) -> DataFrame:
    """Content-defined chunking (Rabin-style): a chunk boundary opens
    wherever the token's content hash ≡ 0 (mod ``mask``) — so chunk
    boundaries move WITH the content, and an insertion near a document's
    head re-chunks only its neighborhood instead of shifting every
    fixed-stride chunk downstream. The sub-document dedup primitive:
    boilerplate shared across documents lands in identical chunks with
    identical hashes no matter where it sits in each document.

    The chunking runs ENTIRELY inside array expressions per row
    (boundary positions → zip with successor → slice+join), so the
    first shuffle is at chunk grain — no token-grain explode, no
    per-document window. Expected chunk length is ``mask`` tokens.

    Output per source: n_chunks, n_dup_chunks (chunk content seen >1
    time corpus-wide), sum_tok, dup_tok, dup_rate4.

    Empty / whitespace-only documents have zero tokens and therefore
    zero chunks; they are filtered out up front (with n = 0 the
    ``sequence(0, n-1)`` index would auto-step downward to ``[0, -1]``
    and the boundary filter would evaluate ``element_at(hs, 0)``, an
    error in Spark).
    """
    from .text import token_hashes, tokens

    # md5-per-token is CPU-heavy per row and the fixture is one parquet
    # file — spread the chunking across the cluster BEFORE the
    # projection (the with_minhash discipline); at real scale the scan
    # already has many splits and AQE coalesces.
    docs = spread(docs, F.col("doc_id"))
    toks = tokens(F.col("text"))
    staged = (
        docs.select("doc_id", "source", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .withColumn("hs", token_hashes(F.col("toks")))
    )
    n = F.size("toks")
    idx = F.sequence(F.lit(0), n - 1)
    bp = F.filter(
        idx,
        lambda j: (j == 0)
        | (F.element_at(F.col("hs"), (j + 1).cast("int")) % mask == 0),
    )
    staged = staged.withColumn("bp", bp).withColumn(
        "ends",
        F.concat(F.slice(F.col("bp"), 2, F.size("bp") - 1), F.array(n)),
    )
    chunk_structs = F.zip_with(
        F.col("bp"),
        F.col("ends"),
        lambda s, e: F.struct(
            F.array_join(F.slice(F.col("toks"), s + 1, e - s), " ").alias("txt"),
            (e - s).cast("long").alias("n_tok"),
        ),
    )
    chunks = staged.select(
        "doc_id", "source", F.explode(chunk_structs).alias("c")
    ).select("doc_id", "source", F.md5("c.txt").alias("chunk_hash"), "c.n_tok")
    # corpus-wide duplicate count as a hash-partitioned window (r12):
    # the old groupBy + join-back referenced ``chunks`` twice, so the
    # tokenize + md5-per-token + md5-per-chunk pass — the operator's
    # CPU — executed twice, plus a second chunk_hash shuffle for the
    # join. count(*) over the hash partition is O(1) aggregation state
    # (the window row buffer spills), same cnt values by construction.
    wch = Window.partitionBy("chunk_hash")
    j = chunks.withColumn("cnt", F.count(F.lit(1)).over(wch))
    dup = F.when(F.col("cnt") > 1, 1).otherwise(0)
    dup_tok = F.when(F.col("cnt") > 1, F.col("n_tok")).otherwise(F.lit(0))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(dup).cast("long").alias("n_dup_chunks"),
        F.sum("n_tok").alias("sum_tok"),
        F.sum(dup_tok).alias("dup_tok"),
        (
            F.floor(
                F.sum(dup_tok).cast("double")
                / F.sum("n_tok").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("dup_rate4"),
    )
