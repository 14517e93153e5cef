"""Round-5 additions along the training-data-pipeline axis: DSIR-style
importance-resampling weights and exact substring (token-span) dedup
statistics — the two published corpus-curation operators the registry
did not yet cover (data selection and span-level duplication; see
Xie et al. 2023 "Data Selection for Language Models via Importance
Resampling" and Lee et al. 2021 "Deduplicating Training Data Makes
Language Models Better").

Reference parity note: the reference repo (pandas/requests ETL,
``services/fitbit/fitbit_utils.py`` et al.) has no corpus-curation
surface; these extend SURVEY.md §2's LLM-pipeline axis. Both are
engine-exact (integer arithmetic only) with full DuckDB hash oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ext import similarity as S
from .ops import scale as SC
from .registry_util import QueryDef, spread, t

# Hashed-feature distribution width for importance resampling. 64
# buckets keeps the weight table broadcast-trivially-small at ANY corpus
# size (the bucket table's row count is the bucket count, not the vocab
# size — the same constant-memory property the hashing trick has).
DSIR_BUCKETS = 64
# Integer scale for the probability-ratio weights (6 decimal digits).
DSIR_SCALE = 1_000_000
DSIR_TOPK = 50

# Token-span width for exact substring dedup. The published systems use
# 50-token windows over BPE streams; the fixture docs are ~50-100
# whitespace tokens, so 5 keeps span counts per doc comparable to the
# published spans-per-page ratio at fixture scale.
SPAN_W = 5


def _tok(col):
    """Whitespace tokens, empties dropped (ext.text.tokens; re-declared
    here so the SQL oracle below and the Spark plan share one literal
    definition per family file)."""
    return F.filter(F.split(col, " "), lambda x: x != "")


def _h32(col):
    """Engine-portable 32-bit hash: first 8 md5 hex chars as a long
    (ext.text.token_hash — md5 is md5 in both engines, so DuckDB
    reproduces bucket ids and span fingerprints bit-for-bit)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ------------------------------------------- DSIR IMPORTANCE WEIGHTS


def dsir_weights(docs, target_flag=None, topk: int = DSIR_TOPK):
    """Data selection via importance resampling over hashed n-gram
    features (DSIR): estimate a target-corpus and a raw-corpus
    distribution over ``DSIR_BUCKETS`` hashed unigram+bigram buckets,
    weight every raw document by how target-like its features are, and
    return the top-``topk`` raw docs to promote. ``target_flag`` is a
    boolean Column marking target rows (default: ``lang = 'en'``).

    Exactness divergence from the paper, by design: the per-bucket
    weight is the add-1-smoothed SCALED PROBABILITY RATIO
    ``(p_b+1)*SCALE div (q_b+1)`` (integer division, exact in both
    engines) rather than its logarithm — monotone per bucket, so the
    induced per-bucket preference order is the paper's, and the doc
    score stays a pure int64 dot product the oracle hash-verifies.

    Scale shape (the whole point of hashed DSIR): ONE explode feeds ONE
    shuffle to (doc, bucket) grain with map-side partial aggregation;
    the bucket-grain distribution is a second aggregate over that
    already-reduced table (64 rows out), never a second pass over the
    corpus; the weight table broadcasts (64 rows at ANY corpus size);
    the global top-k is a distributed TakeOrderedAndProject, never a
    single-partition sort. Feature hashing is per-row array-HOF CPU, so
    the input is repartitioned first (the with_minhash discipline — a
    single-file scan would otherwise pin the md5 work to one task)."""
    if target_flag is None:
        target_flag = F.col("lang") == "en"
    toks = F.col("toks")
    # adjacent-pair bigrams, multiplicity kept (ext.text.word_2grams
    # shape): sequence is empty when the doc has a single token
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, (i + 1).cast("int")),
                F.element_at(toks, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bucketed = (
        docs.select(
            "doc_id",
            target_flag.alias("is_tgt"),
            _tok(F.col("text")).alias("toks"),
        )
        .transform(spread, F.col("doc_id"))
        .select(
            "doc_id",
            "is_tgt",
            F.explode(F.concat(toks, bigrams)).alias("feat"),
        )
        .select(
            "doc_id",
            "is_tgt",
            F.pmod(_h32(F.col("feat")), F.lit(DSIR_BUCKETS)).alias("bucket"),
        )
    )
    # one corpus-wide shuffle, to (doc, side, bucket) grain
    per_doc = bucketed.groupBy("doc_id", "is_tgt", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # bucket-grain distribution from the REDUCED table (64 rows out)
    wt = (
        per_doc.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_tgt"), F.col("cnt")).otherwise(0)).alias("p_cnt"),
            F.sum(F.when(~F.col("is_tgt"), F.col("cnt")).otherwise(0)).alias("q_cnt"),
        )
        .select(
            "bucket",
            F.expr(f"(p_cnt + 1) * {DSIR_SCALE} div (q_cnt + 1)").alias("wt"),
        )
    )
    scored = (
        per_doc.filter(~F.col("is_tgt"))
        .join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("wt")).alias("weight"),
            F.sum("cnt").alias("n_feats"),
        )
    )
    return scored.orderBy(F.desc("weight"), F.asc("doc_id")).limit(topk)


def _text_dsir_weights(spark, sf_dir):
    return dsir_weights(t(spark, sf_dir, "documents"))


_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS is_tgt,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, is_tgt,
         unnest(list_concat(
           toks,
           [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]
         )) AS feat
  FROM tok
),
bucketed AS (
  SELECT doc_id, is_tgt,
         ('0x' || substr(md5(feat), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM feats
),
per_doc AS (
  SELECT doc_id, is_tgt, bucket, count(*) AS cnt
  FROM bucketed GROUP BY doc_id, is_tgt, bucket
),
w AS (
  SELECT bucket,
         CAST((sum(cnt) FILTER (WHERE is_tgt) + 1) * {DSIR_SCALE}
              // (sum(cnt) FILTER (WHERE NOT is_tgt) + 1) AS BIGINT) AS wt
  FROM (SELECT bucket, is_tgt, sum(cnt) AS cnt FROM per_doc GROUP BY 1, 2)
  GROUP BY bucket
)
SELECT d.doc_id,
       CAST(sum(d.cnt * w.wt) AS BIGINT) AS weight,
       CAST(sum(d.cnt) AS BIGINT) AS n_feats
FROM per_doc d JOIN w USING (bucket)
WHERE NOT d.is_tgt
GROUP BY d.doc_id
ORDER BY weight DESC, d.doc_id ASC
LIMIT {DSIR_TOPK}
"""


# ------------------------------------------- EXACT SUBSTRING SPAN DEDUP


def span_dedup_stats(docs):
    """Exact substring deduplication statistics at token-span grain: a
    span is ``SPAN_W`` consecutive tokens; a span is DUPLICATED when
    its fingerprint occurs in >= 2 distinct documents. Per affected
    document: total tokens, total spans, duplicated spans, and the
    number of token positions covered by at least one duplicated span
    (the quantity the published removal step excises). This is the
    shuffle-native restatement of suffix-array substring dedup — the
    suffix array's find-repeats pass becomes a groupBy on span
    fingerprints, which is the form that scales on a cluster.

    Scale shape: span fingerprints come from ONE per-row array
    transform (repartitioned first — md5-per-span is the CPU); dup
    detection is one shuffle on the 64-bit fingerprint with a distinct
    count; the flag rides back on a fingerprint equi-join; position
    coverage explodes ONLY duplicated spans (W rows each) into a
    distinct-position count per doc. No windows, no all-pairs — the
    candidate set is fingerprint-bucketed exactly like minhash-LSH."""
    toks = F.col("toks")
    span_hashes = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SPAN_W),
        lambda i: _h32(
            F.array_join(F.slice(toks, (i + 1).cast("int"), SPAN_W), " ")
        ),
    )
    hashed = (
        docs.select("doc_id", _tok(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= SPAN_W)
        .transform(spread, F.col("doc_id"))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.posexplode(span_hashes).alias("start", "h"),
        )
    )
    # dup flag as a fingerprint-partitioned window (r11): the old
    # groupBy + left-join-back referenced ``hashed`` twice, re-running
    # the tokenize + md5-per-span pass — the operator's CPU — once per
    # reference, plus a second fp shuffle for the join. The flag only
    # needs ">=2 distinct docs", which min != max answers with O(1)
    # aggregation state (r12): a hot boilerplate span no longer buffers
    # its full doc set in one task (collect_set did).
    from pyspark.sql import Window

    wh = Window.partitionBy("h")
    flagged = hashed.select(
        "doc_id",
        "n_tokens",
        "start",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias(
            "is_dup"
        ),
    )
    cover = (
        flagged.filter(F.col("is_dup"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + SPAN_W - 1)
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("pos").alias("covered_tokens"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dup_spans"),
    )
    return (
        per_doc.filter(F.col("dup_spans") > 0)
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "dup_spans",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias("covered_tokens"),
        )
        .orderBy("doc_id")
    )


def _dedup_span_ngrams(spark, sf_dir):
    return span_dedup_stats(t(spark, sf_dir, "documents"))


# ------------------------------------------- CROSS-SOURCE OVERLAP MATRIX


def source_overlap(docs):
    """Cross-source duplication forensics: for every source pair, how
    many DISTINCT 5-token span fingerprints they share, plus per-source
    distinct-span totals and the span-set Jaccard — the audit that
    tells a corpus build which source pairs to dedup against each other
    (mirror sites, syndication, scraped re-posts) before any document-
    level pass.

    Scale shape: one per-row transform emits span fingerprints (same
    repartition-first discipline as span_dedup_stats), ONE shuffle
    reduces to distinct (source, h), and the pair count is an equi-join
    on the 64-bit fingerprint whose per-key fanout is bounded by
    C(n_sources, 2) — source count is the small dimension (dozens at
    100 TB), so the matrix is tiny even when the span table is not.
    Totals ride in as a broadcast (n_sources rows)."""
    toks = F.col("toks")
    span_hashes = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SPAN_W),
        lambda i: _h32(
            F.array_join(F.slice(toks, (i + 1).cast("int"), SPAN_W), " ")
        ),
    )
    sh = (
        docs.select("doc_id", "source", _tok(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= SPAN_W)
        .transform(spread, F.col("doc_id"))
        .select("source", F.explode(span_hashes).alias("h"))
    )
    # ONE pass (r11): the old distinct → self-join-on-h → two margin
    # aggregates referenced the span table three times, re-running the
    # tokenize + md5-per-span pass per reference. Instead group each
    # fingerprint's source SET once (collect_set both dedups the
    # (source, h) grain and bounds state by the source count — dozens
    # at any corpus size, the operator's own documented argument), and
    # emit per-source singles AND ordered source pairs from the set in
    # one in-place expansion; a single count aggregate then carries
    # both the per-source distinct-span totals (y IS NULL rows) and
    # the pair overlaps. The combined table is ≤ |sources|² rows —
    # metadata — so truncating it is free and the split below does not
    # re-derive the corpus pass.
    sets = sh.groupBy("h").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    emit = F.expr(
        "concat("
        " transform(ss, s -> struct(s AS x, CAST(NULL AS STRING) AS y)),"
        " flatten(transform(ss, a -> transform("
        "   filter(ss, b -> b > a), b -> struct(a AS x, b AS y)))))"
    )
    counts = (
        sets.select(F.explode(emit).alias("e"))
        .groupBy(F.col("e.x").alias("x"), F.col("e.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(SC.truncate_lineage)
    )
    tot = counts.filter(F.col("y").isNull()).select(
        F.col("x").alias("source"), "n"
    )
    ov = counts.filter(F.col("y").isNotNull()).select(
        F.col("x").alias("src_a"),
        F.col("y").alias("src_b"),
        F.col("n").alias("n_shared"),
    )
    ta = F.broadcast(tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
    tb = F.broadcast(tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")))
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        ov.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            (F.floor(jac * 10000 + 0.5) / 10000.0).alias("jaccard4"),
        )
        .orderBy("src_a", "src_b")
    )


def _corpus_source_overlap(spark, sf_dir):
    return source_overlap(t(spark, sf_dir, "documents"))


_SOURCE_OVERLAP_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
spans AS (
  SELECT source,
         ('0x' || substr(md5(array_to_string(
             toks[s+1:s+{SPAN_W}], ' ')), 1, 8))::BIGINT AS h
  FROM (SELECT source, toks,
               unnest(range(0, len(toks) - {SPAN_W} + 1)) AS s
        FROM tok WHERE len(toks) >= {SPAN_W})
),
sh AS (SELECT DISTINCT source, h FROM spans),
tot AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
ov AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT o.src_a, o.src_b,
       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
       CAST(o.n_shared AS BIGINT) AS n_shared,
       floor(CAST(o.n_shared AS DOUBLE) / (ta.n + tb.n - o.n_shared)
             * 10000 + 0.5) / 10000.0 AS jaccard4
FROM ov o JOIN tot ta ON ta.source = o.src_a
          JOIN tot tb ON tb.source = o.src_b
ORDER BY src_a, src_b
"""


_SPAN_SQL = f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
spans AS (
  SELECT doc_id, len(toks) AS n_tokens,
         unnest(range(0, len(toks) - {SPAN_W} + 1)) AS start, toks
  FROM tok WHERE len(toks) >= {SPAN_W}
),
hashed AS (
  SELECT doc_id, n_tokens, start,
         ('0x' || substr(md5(array_to_string(
             toks[start+1:start+{SPAN_W}], ' ')), 1, 8))::BIGINT AS h
  FROM spans
),
dup AS (SELECT h FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
flagged AS (
  SELECT hashed.*, (dup.h IS NOT NULL) AS is_dup
  FROM hashed LEFT JOIN dup ON hashed.h = dup.h
),
cover AS (
  SELECT doc_id, count(DISTINCT pos) AS covered
  FROM (SELECT doc_id, unnest(range(start, start + {SPAN_W})) AS pos
        FROM flagged WHERE is_dup) GROUP BY doc_id
),
per_doc AS (
  SELECT doc_id, any_value(n_tokens) AS n_tokens, count(*) AS n_spans,
         count(*) FILTER (WHERE is_dup) AS dup_spans
  FROM flagged GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(p.n_spans AS BIGINT) AS n_spans,
       CAST(p.dup_spans AS BIGINT) AS dup_spans,
       CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens
FROM per_doc p LEFT JOIN cover c USING (doc_id)
WHERE p.dup_spans > 0
ORDER BY p.doc_id
"""


# ------------------------------------------- SEMDEDUP CLUSTER PROFILE


def _embed_semdedup(spark, sf_dir):
    """SemDeDup per-cluster semantic-dedup profile (Abbas et al. 2023):
    nearest-seed cluster assignment, within-cluster-only pairwise
    cosine, most-similar pair + keep-lowest-id drop count at
    tau=0.55 per cluster. See ext.similarity.semdedup_profile for the
    full scale argument (pairs are sum(c_i^2) via the cluster equi-join,
    never N^2; both argmaxes are partial-aggregated max(struct))."""
    return S.semdedup_profile(t(spark, sf_dir, "embeddings"))


_SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, label, v,
                            sqrt(list_dot_product(v, v)) AS nrm FROM e)
      WHERE nrm > 0),
sid AS (SELECT label AS seed_lbl, min(vec_id) AS s_id FROM n GROUP BY label),
seeds AS (SELECT sid.seed_lbl AS cid, n.v AS cv, n.nrm AS cn
          FROM sid JOIN n ON n.vec_id = sid.s_id),
assigned AS (
  SELECT vec_id, cid, v, nrm FROM (
    SELECT n.vec_id, seeds.cid, n.v, n.nrm,
           row_number() OVER (PARTITION BY n.vec_id
               ORDER BY list_dot_product(n.v, seeds.cv)
                        / (n.nrm * seeds.cn) DESC,
                        seeds.cid ASC) AS pr
    FROM n, seeds) WHERE pr = 1),
pairs AS (
  SELECT a.cid AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id),
drops AS (SELECT cluster, count(DISTINCT id_b) AS n_drop
          FROM pairs WHERE cos >= {S.SEMDEDUP_TAU} GROUP BY cluster),
best AS (
  SELECT cluster, id_a, id_b, cos FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster
        ORDER BY cos DESC, id_a ASC, id_b ASC) AS pr FROM pairs)
  WHERE pr = 1),
members AS (SELECT cid AS cluster, count(*) AS n_members
            FROM assigned GROUP BY cid)
SELECT m.cluster::INT AS cluster, m.n_members,
       b.id_a AS best_a, b.id_b AS best_b,
       floor(b.cos * 10000 + 0.5) / 10000.0 AS best_cos4,
       COALESCE(d.n_drop, 0) AS n_drop
FROM members m JOIN best b USING (cluster)
LEFT JOIN drops d USING (cluster)
ORDER BY cluster
"""


R5_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("text_dsir_weights", _text_dsir_weights, _DSIR_SQL, ("ext",)),
        QueryDef("dedup_span_ngrams", _dedup_span_ngrams, _SPAN_SQL, ("ext",)),
        QueryDef("embed_semdedup", _embed_semdedup, _SEMDEDUP_SQL, ("ext",)),
        QueryDef(
            "corpus_source_overlap",
            _corpus_source_overlap,
            _SOURCE_OVERLAP_SQL,
            ("corpus",),
        ),
    )
}
