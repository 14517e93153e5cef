"""Near-duplicate detection, entity resolution and vector search:
MinHash/LSH, SimHash, n-gram and containment dedup (``dedup_*``),
entity resolution (``er_*``), approximate nearest neighbours and
embedding audits (``ann_*``, ``embed_*``), retrieval fusion (``rag_*``)
and spatial joins (``geo_*``).

The DuckDB oracle SQL for signature-based operators (MinHash, SimHash,
LSH) is generated from the same constants as the Spark implementation
(``ext/dedup.py``, ``ext/similarity.py``), so both engines compute
bit-identical integer signatures and the oracle checks the whole
pipeline exactly, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ext import corpus as C
from .ext import dedup as D
from .ext import similarity as S
from .ext import text as TX
from .ext.text import token_hash, tokens
from .ops import relational as R
from .ops.scale import spread, truncate_lineage
from .registry_util import (
    BM25_SQL,
    MINHASH_SQL,
    QueryDef,
    RP_IN_DIMS,
    SPAN_W,
    SQL_DOC_SHINGLES,
    SQL_HASH,
    SQL_JACCARD_TAIL,
    SQL_TOKS,
    bm25_topk,
    dedup_clusters_sql,
    dedup_survivorship,
    shared_minhash_cand_stats,
    shared_minhash_clusters,
    shared_sq8_codes,
    sql_band_rows,
    sql_sig_cols,
    t,
)


def _dedup_distinct(spark, sf_dir):
    """A2 — drop_duplicates (get_stream_data.py:76)."""
    return R.distinct_keys(t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


# ------------------------------------------------------- spark callables


def _dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy (the O(N) scale path)."""
    return D.exact_dedup_groups(t(spark, sf_dir, "documents"), "doc_id", "text")


def _dedup_minhash(spark, sf_dir):
    """MinHash(32) + LSH(8×4) near-dup pairs, exact-Jaccard verified —
    read from the materialized candidate-stats stage (r10): the band
    self-join + shingle-array verify ran once per process for the whole
    dedup family; this key is a scan + threshold filter."""
    return D.near_dups_from_pair_stats(
        shared_minhash_cand_stats(spark, sf_dir), 0.5
    )


_NGRAM_SQL = f"""
WITH {SQL_DOC_SHINGLES},
ex AS (SELECT doc_id, unnest(shd) AS s FROM sh),
hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > {D.NGRAM_MAX_DF}),
exf AS (SELECT * FROM ex WHERE s NOT IN (SELECT s FROM hot)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id),
{SQL_JACCARD_TAIL}
"""


def _dedup_ngram(spark, sf_dir):
    """Exact 3-word-shingle Jaccard pairs (shared-shingle candidates)."""
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), "doc_id", "text", 0.5)


def _sql_simhash() -> str:
    bit_terms = []
    for j in range(D.SIMHASH_BITS):
        bit_terms.append(
            f"CASE WHEN list_sum(list_transform(th, h -> "
            f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    total = " + ".join(bit_terms)
    return f"""
WITH tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
th AS (SELECT doc_id,
              list_transform(list_distinct(toks), x -> {SQL_HASH.format(s='x')}) AS th
       FROM tok)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM th
"""


def _dedup_simhash(spark, sf_dir):
    """32-bit SimHash signature per document."""
    docs = t(spark, sf_dir, "documents")
    th = TX.token_hashes(F.array_distinct(TX.tokens(F.col("text"))))
    return docs.select("doc_id", D.simhash(th).alias("simhash"))


# --------------------------------------------------- similarity SQL

_EMB_D = "list_transform(embedding, x -> x::DOUBLE)"


def _sql_lsh_bucket(planes: list[list[float]] | None = None) -> str:
    terms = []
    for i, plane in enumerate(planes if planes is not None else S.HYPERPLANES):
        lit = "[" + ", ".join(repr(c) for c in plane) + "]"
        terms.append(f"CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << i} ELSE 0 END")
    return " + ".join(terms)


# Bucketed near-dup pairs: candidates only within a shared LSH bucket —
# mirrors cosine_pairs_bucketed (the registered scale path; the brute
# all-pairs form survives only as the pytest cross-check in
# tests/test_scale_ops.py).
_COS_PAIRS_BUCKETED_SQL = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings WHERE vec_id % 5 = 0),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                            CAST({_sql_lsh_bucket()} AS BIGINT) AS bucket FROM e)
      WHERE nrm > 0),
p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b, floor(cos * 10000 + 0.5) / 10000.0 AS cos4
FROM p WHERE cos >= 0.3
"""


def _dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs (cosine ≥ 0.3) on a deterministic
    sub-sample — LSH-bucketed candidate generation (equi-join on the
    bucket id, never all-pairs); exact cosine verify within buckets."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    return S.cosine_pairs_bucketed(emb, threshold=0.3)


def _dedup_clusters(spark, sf_dir):
    """Iterative: near-dup pairs -> connected components (min-label
    propagation) -> dedup clusters, read from the materialized cluster
    stage (r10) — the CC fixpoint runs once per process for the three
    cluster consumers. The oracle walks the same pair graph with a
    recursive CTE."""
    return shared_minhash_clusters(spark, sf_dir)


_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      WHERE nrm > 0),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM (SELECT * FROM n WHERE vec_id < 10) q,
           (SELECT * FROM n WHERE vec_id >= 10) c)
SELECT query_id, cand_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk,
       floor(cos * 10000 + 0.5) / 10000.0 AS cos4
FROM s
QUALIFY rnk <= 5
"""


def _ann_topk(spark, sf_dir):
    """Brute-force cosine top-5: query set broadcast against candidates."""
    emb = t(spark, sf_dir, "embeddings")
    out = S.cosine_topk(emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10))
    return out.withColumnRenamed("rank", "rnk")


_LSH_BUCKET_SQL = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
b AS (SELECT vec_id, CAST({_sql_lsh_bucket()} AS BIGINT) AS bucket FROM e)
SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket
"""


def _ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucket histogram (the ANN scale path)."""
    b = S.lsh_buckets(t(spark, sf_dir, "embeddings"))
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))


def _ann_lsh_topk(spark, sf_dir):
    """End-to-end LSH-bucketed ANN: score only within shared buckets."""
    emb = t(spark, sf_dir, "embeddings")
    return S.lsh_bucketed_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)
    )


_LSH_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                            CAST({_sql_lsh_bucket()} AS BIGINT) AS bucket FROM e)
      WHERE nrm > 0),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM (SELECT * FROM n WHERE vec_id < 10) q
      JOIN (SELECT * FROM n WHERE vec_id >= 10) c USING (bucket))
SELECT query_id, cand_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk,
       floor(cos * 10000 + 0.5) / 10000.0 AS cos4
FROM s
QUALIFY rnk <= 5
"""


def _ann_ivf_topk(spark, sf_dir):
    """IVF ANN: inverted-file cells from a deterministic coarse
    quantizer, nprobe=2 probe, exact scoring within probed cells."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)
    )


# Mirrors ivf_topk exactly: same centroid id range, same cos op order
# (list_dot_product is the same sequential fold as zip_with+aggregate),
# same (cos DESC, id ASC) tie-breaks. The Spark side resolves the
# n_nearest=1 argmax as max(struct(cos, -cid)) — equivalent to the
# row_number()=1 form here when cos is NaN-free (nonzero norms).
_IVF_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      WHERE nrm > 0),
cand AS (SELECT * FROM n WHERE vec_id >= 10),
cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn
         FROM cand WHERE vec_id >= {S.IVF_CENTROID_LO} AND vec_id < {S.IVF_CENTROID_HI}),
ca AS (SELECT vec_id, cid,
              list_dot_product(v, cv) / (nrm * cn) AS ccos,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC,
                                          cid ASC) AS pr
       FROM cand, cent),
cand_cell AS (SELECT vec_id, cid AS cell FROM ca WHERE pr = 1),
qn AS (SELECT * FROM n WHERE vec_id < 10),
qa AS (SELECT qn.vec_id, cid,
              row_number() OVER (PARTITION BY qn.vec_id
                                 ORDER BY list_dot_product(qn.v, cv) / (qn.nrm * cn) DESC,
                                          cid ASC) AS pr
       FROM qn, cent),
q_cell AS (SELECT vec_id, cid AS cell FROM qa WHERE pr <= {S.IVF_NPROBE}),
s AS (SELECT qc.vec_id AS query_id, c.vec_id AS cand_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM q_cell qc
      JOIN qn q ON qc.vec_id = q.vec_id
      JOIN cand_cell cc ON qc.cell = cc.cell
      JOIN cand c ON cc.vec_id = c.vec_id)
SELECT query_id, cand_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk,
       floor(cos * 10000 + 0.5) / 10000.0 AS cos4
FROM s
QUALIFY rnk <= 5
"""


def _ann_lsh_multitable(spark, sf_dir):
    """Multi-table LSH ANN: candidates collide in ANY of the 3
    hyperplane tables; recall 1-(1-p^r)^L for the same equi-join shape."""
    emb = t(spark, sf_dir, "embeddings")
    return S.lsh_multitable_topk(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)
    )


def _multitable_sql() -> str:
    buckets = ", ".join(
        f"CAST({_sql_lsh_bucket(p)} AS BIGINT) AS bucket{i}"
        for i, p in enumerate(S.HYPERPLANE_TABLES)
    )
    unions = " UNION ".join(
        f"SELECT q.vec_id AS query_id, c.vec_id AS cand_id "
        f"FROM q JOIN c ON q.bucket{i} = c.bucket{i}"
        for i in range(len(S.HYPERPLANE_TABLES))
    )
    return f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                            {buckets} FROM e)
      WHERE nrm > 0),
q AS (SELECT * FROM n WHERE vec_id < 10),
c AS (SELECT * FROM n WHERE vec_id >= 10),
cand AS ({unions}),
s AS (SELECT cand.query_id, cand.cand_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM cand JOIN q ON cand.query_id = q.vec_id
                JOIN c ON cand.cand_id = c.vec_id)
SELECT query_id, cand_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk,
       floor(cos * 10000 + 0.5) / 10000.0 AS cos4
FROM s
QUALIFY rnk <= 5
"""


def _ann_knn_classify(spark, sf_dir):
    """k-NN majority-label vote: brute top-5 neighbors, then an
    aggregate argmax over the votes (most votes, smallest label)."""
    emb = t(spark, sf_dir, "embeddings")
    return S.knn_classify(
        emb.filter(F.col("vec_id") < 10), emb.filter(F.col("vec_id") >= 10)
    )


_KNN_CLASSIFY_SQL = f"""
WITH e AS (SELECT vec_id, label, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
                     FROM e)
      WHERE nrm > 0),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS lbl,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
      FROM (SELECT * FROM n WHERE vec_id < 10) q,
           (SELECT * FROM n WHERE vec_id >= 10) c),
tk AS (SELECT * FROM (
           SELECT query_id, cand_id, lbl,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id ASC) AS rnk
           FROM s)
       WHERE rnk <= 5),
v AS (SELECT query_id, lbl, count(*) AS votes FROM tk GROUP BY query_id, lbl)
SELECT query_id, lbl::INT AS predicted_label, votes
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, lbl ASC) AS pr FROM v)
WHERE pr = 1
"""


def _embed_cluster_assign(spark, sf_dir):
    """Deterministic k-means E-step: nearest-seed assignment of every
    vector (seeds = lowest-id vector per label class)."""
    return S.seed_cluster_assign(t(spark, sf_dir, "embeddings"))


_CLUSTER_ASSIGN_SQL = f"""
WITH e AS (SELECT vec_id, label, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
                     FROM e)
      WHERE nrm > 0),
sid AS (SELECT label AS seed_lbl, min(vec_id) AS s_id FROM n GROUP BY label),
seeds AS (SELECT sid.seed_lbl AS cid, n.v AS cv, n.nrm AS cn
          FROM sid JOIN n ON n.vec_id = sid.s_id),
sc AS (SELECT n.vec_id, seeds.cid,
              list_dot_product(n.v, seeds.cv) / (n.nrm * seeds.cn) AS ccos,
              row_number() OVER (
                  PARTITION BY n.vec_id
                  ORDER BY list_dot_product(n.v, seeds.cv) / (n.nrm * seeds.cn) DESC,
                           seeds.cid ASC) AS pr
       FROM n, seeds)
SELECT vec_id, cid::INT AS cluster, floor(ccos * 10000 + 0.5) / 10000.0 AS cos4
FROM sc WHERE pr = 1
"""


def _embed_dim_stats(spark, sf_dir):
    return C.embedding_dim_stats(t(spark, sf_dir, "embeddings"))


_DIM_STATS_SQL = """
WITH e AS (SELECT unnest(embedding) AS v,
                  unnest(range(0, len(embedding))) AS dim
           FROM embeddings),
m AS (SELECT dim, CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT) AS micro,
             CAST(v AS DOUBLE) AS vd
      FROM e)
SELECT dim, count(*) AS n_vecs, CAST(sum(micro) AS BIGINT) AS sum_micro,
       min(vd) AS min_v, max(vd) AS max_v,
       floor((CAST(sum(micro) AS DOUBLE) / count(*) / 1e6) * 1e6 + 0.5) / 1e6
         AS mean6
FROM m GROUP BY dim
"""


def _er_fuzzy_pairs(spark, sf_dir):
    """Entity-resolution pairs over customer names at substitution
    distance <= 1, via masked-position blocking (SymSpell-style) —
    the fuzzy-match face of the dedup family."""
    return D.fuzzy_name_pairs(t(spark, sf_dir, "customer"), "c_custkey", "c_name")


_ER_FUZZY_SQL = """
WITH c AS (SELECT c_custkey AS k, c_name AS nm FROM customer),
v AS (SELECT k, nm, i,
             substr(nm, 1, i - 1) || '_' || substr(nm, i + 1) AS masked
      FROM c, UNNEST(range(1, length(nm) + 1)) AS t(i)),
p AS (SELECT DISTINCT a.k AS key_a, b.k AS key_b,
                      a.nm AS name_a, b.nm AS name_b
      FROM v a JOIN v b
        ON a.i = b.i AND a.masked = b.masked AND a.k < b.k)
SELECT key_a, key_b, name_a, name_b,
       levenshtein(name_a, name_b) AS lev
FROM p
"""


# --------------------------------------------------- EDIT DISTANCE ER


def _er_edit_distance(spark, sf_dir):
    """Blocked Levenshtein similarity join on distinct part names
    (block = last name token), the true-metric ER candidate step."""
    part = t(spark, sf_dir, "part")
    out = D.edit_distance_pairs(
        part, "p_name", F.substring_index(F.col("p_name"), " ", -1), 4
    )
    return out.select("name_a", "name_b", F.col("dist").cast("long").alias("dist"))


_ER_EDIT_SQL = """
WITH names AS (SELECT DISTINCT p_name AS name, str_split(p_name, ' ')[-1] AS blk
               FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 4
"""


# ------------------------------------------------------ SQ8 QUANTIZED ANN


def _ann_sq8_topk(spark, sf_dir):
    """ANN over scalar-quantized (SQ8) codes: per-dim corpus bounds ->
    0..255 integer codes -> exact integer quantized-L2 top-5 per query.
    The vector-compression scale path (8-bit scan, integer kernel);
    codes come from the materialized shared SQ8 stage (r9)."""
    emb = t(spark, sf_dir, "embeddings")
    return S.sq8_topk(
        emb, F.col("vec_id") < 10, k=5, codes=shared_sq8_codes(spark, sf_dir)
    )


_SQ8_SQL = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5) AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),
s AS (SELECT q.vec_id AS query_id, c2.vec_id AS cand_id,
       CAST(list_sum(list_transform(range(1, len(q.c)+1),
            i -> (q.c[i] - c2.c[i]) * (q.c[i] - c2.c[i]))) AS BIGINT) AS dist2
      FROM (SELECT * FROM codes WHERE vec_id < 10) q,
           (SELECT * FROM codes WHERE vec_id >= 10) c2)
SELECT query_id, cand_id,
       row_number() OVER (PARTITION BY query_id ORDER BY dist2 ASC, cand_id ASC) AS rnk,
       dist2
FROM s QUALIFY rnk <= 5
"""


# ----------------------------------------------------------- CORR MATRIX

_CORR_DIMS = 8


def _embed_corr_matrix(spark, sf_dir):
    """Exact Pearson correlation over the first 8 embedding dims —
    integer-moment single-pass aggregate."""
    return S.corr_matrix_int(t(spark, sf_dir, "embeddings"), dims=_CORR_DIMS)


_CORR_SQL = f"""
WITH m AS (
  SELECT list_transform(embedding[1:{_CORR_DIMS}],
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
         AS mm
  FROM embeddings),
p AS (SELECT i.range AS i, j.range AS j
      FROM range({_CORR_DIMS}) i, range({_CORR_DIMS}) j
      WHERE i.range < j.range),
x AS (SELECT p.i, p.j, mm[p.i + 1] AS a, mm[p.j + 1] AS b FROM m, p),
s AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sx, CAST(sum(b) AS BIGINT) AS sy,
             CAST(sum(a * b) AS BIGINT) AS sxy,
             CAST(sum(a * a) AS BIGINT) AS sxx,
             CAST(sum(b * b) AS BIGINT) AS syy
      FROM x GROUP BY 1, 2)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
       floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 10000 + 0.5) / 10000.0 AS corr4
FROM s
"""


# -------------------------------------------------------- SIMHASH PAIRS


def _dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pair detection (hamming <= 3) — completes the
    simhash path from signatures (dedup_simhash) to detected
    duplicates via pigeonhole banding: 4 bands of 8 bits,
    equi-self-join on the band, bit_count(xor) verify on candidates
    only — never all-pairs. The word-soup fixture clusters signatures
    hard (pair volume grows quadratically with SF), so the registered
    result is the per-distance pair HISTOGRAM plus each distance's
    minimum pair (driver-bounded, 4 rows) over the deterministic
    doc_id %% 5 sub-sample (the dedup_embedding_cosine precedent — the
    word-soup clustering is a fixture artifact, not an operator
    property); the pair-level operator is
    :func:`~fitness_data_ingest_spark.ext.dedup.simhash_near_pairs`."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    th = TX.token_hashes(F.array_distinct(TX.tokens(F.col("text"))))
    sigs = docs.select("doc_id", D.simhash(th).alias("simhash"))
    pairs = D.simhash_near_pairs(sigs)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("doc_a").alias("min_doc_a"),
        F.min("doc_b").alias("min_doc_b"),
    )


def _simhash_pairs_sql() -> str:
    from .ext.dedup import SIMHASH_BITS

    n_bands, band_bits = 4, SIMHASH_BITS // 4
    mask = (1 << band_bits) - 1
    return f"""
WITH sig0 AS ({_sql_simhash()}),
sig AS (SELECT * FROM sig0 WHERE doc_id % 5 = 0),
b AS (SELECT doc_id, simhash, t.range AS band_idx,
             (simhash >> (t.range * {band_bits})) & {mask} AS band_val
      FROM sig, range({n_bands}) t),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                a.simhash AS sa, b2.simhash AS sb
         FROM b a JOIN b b2
           ON a.band_idx = b2.band_idx AND a.band_val = b2.band_val
          AND a.doc_id < b2.doc_id)
SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
       min(doc_a) AS min_doc_a, min(doc_b) AS min_doc_b
FROM (SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 3)
GROUP BY 1
"""


# ---------------------------------------------------------- RECALL EVAL


def _ann_recall_eval(spark, sf_dir):
    """ANN quality evaluation: recall@5 of the LSH-bucketed search
    against the brute-force exact top-5, per query — the measurement
    loop any production ANN deployment runs before trading recall for
    candidate-set size. Pure counting over two deterministic top-k
    results; at scale the brute-force side runs on a sampled query
    panel (here the full 10-query set)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    from .ext import similarity as S2

    brute = S2.cosine_topk(q, c).select("query_id", "cand_id")
    # NOTE (r12, measured): truncating lineage at the ≤ queries×k truth
    # list (it feeds both the hit join and k_eff) A/B'd 1.07 (5 reps,
    # same sitting) — the eager materialization job costs more than the
    # re-derived 10-query brute pass at this panel size. Left live; the
    # §27 dominance bound decides, not the consumer count.
    lsh = S2.lsh_bucketed_topk(q, c).select("query_id", "cand_id")
    hits = (
        brute.join(lsh, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    k_eff = brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("k_eff"))
    return k_eff.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.floor(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("k_eff").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("recall4"),
    )


def _recall_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
n AS (SELECT * FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                            CAST({_sql_lsh_bucket()} AS BIGINT) AS bucket FROM e)
      WHERE nrm > 0),
bs AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       FROM (SELECT * FROM n WHERE vec_id < 10) q,
            (SELECT * FROM n WHERE vec_id >= 10) c),
brute AS (SELECT query_id, cand_id FROM (
            SELECT query_id, cand_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, cand_id ASC) AS rnk
            FROM bs) WHERE rnk <= 5),
ls AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
       FROM (SELECT * FROM n WHERE vec_id < 10) q
       JOIN (SELECT * FROM n WHERE vec_id >= 10) c USING (bucket)),
lsh AS (SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, cand_id ASC) AS rnk
          FROM ls) WHERE rnk <= 5),
hits AS (SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM brute b JOIN lsh l
           ON b.query_id = l.query_id AND b.cand_id = l.cand_id
         GROUP BY 1),
k AS (SELECT query_id, CAST(count(*) AS BIGINT) AS k_eff
      FROM brute GROUP BY 1)
SELECT k.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       floor(CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(k_eff AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS recall4
FROM k LEFT JOIN hits ON k.query_id = hits.query_id
"""


# -------------------------------------------------------- CONTAINMENT


def _dedup_containment_pairs(spark, sf_dir):
    """Shingle-containment near-dup pairs (|A∩B| / min(|A|,|B|) >= 0.6)
    — catches small-doc-inside-big-doc inclusions Jaccard under-scores."""
    return D.containment_pairs(t(spark, sf_dir, "documents"), "doc_id", "text")


def _containment_sql() -> str:
    from .ext.dedup import CONTAINMENT_THRESHOLD, NGRAM_MAX_DF

    return f"""
WITH {SQL_DOC_SHINGLES},
ex AS (SELECT doc_id, unnest(shd) AS s FROM sh),
hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > {NGRAM_MAX_DF}),
exf AS (SELECT * FROM ex WHERE s NOT IN (SELECT s FROM hot)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id),
pairs AS (
  SELECT doc_a, doc_b,
         len(list_intersect(x.shd, y.shd))::DOUBLE
           / least(len(x.shd), len(y.shd))::DOUBLE AS c
  FROM cand JOIN sh x ON x.doc_id = cand.doc_a
            JOIN sh y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, floor(c * 10000 + 0.5) / 10000.0 AS cont4
FROM pairs WHERE c >= {CONTAINMENT_THRESHOLD}
"""


# ------------------------------------------------------- THRESHOLD SWEEP


def _dedup_threshold_sweep(spark, sf_dir):
    """Dedup tuning curve: how many near-dup pairs survive each Jaccard
    threshold 0.3..0.9 — ONE exact-pairs pass (shared-shingle
    candidates at the lowest threshold), then a 7-way threshold
    explode + count. The curve a curator reads before committing to a
    cutoff; built on the exact n-gram path because banded LSH loses
    recall below its S-curve knee (~0.59 at b=8, r=4) and would bend
    the curve's low end."""
    pairs = D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", 0.3
    )
    ths = F.array(*[F.lit(x / 10.0) for x in range(3, 10)])
    return (
        pairs.select("jaccard", F.explode(ths).alias("threshold"))
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _sweep_sql() -> str:
    from .ext.dedup import NGRAM_MAX_DF

    return f"""
WITH {SQL_DOC_SHINGLES},
ex AS (SELECT doc_id, unnest(shd) AS s FROM sh),
hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > {NGRAM_MAX_DF}),
exf AS (SELECT * FROM ex WHERE s NOT IN (SELECT s FROM hot)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id),
pairs AS (
  SELECT doc_a, doc_b,
         len(list_intersect(x.shd, y.shd))::DOUBLE
           / (len(x.shd) + len(y.shd) - len(list_intersect(x.shd, y.shd)))
           AS j
  FROM cand JOIN sh x ON x.doc_id = cand.doc_a
            JOIN sh y ON y.doc_id = cand.doc_b),
p4 AS (SELECT floor(j * 10000 + 0.5) / 10000.0 AS jaccard
       FROM pairs WHERE j >= 0.3),
ths AS (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
          AS threshold)
SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
FROM p4 JOIN ths ON p4.jaccard >= ths.threshold
GROUP BY 1
"""


# ------------------------------------------- MINHASH ESTIMATE VS EXACT


def _dedup_minhash_jaccard_est(spark, sf_dir):
    return D.estimate_vs_exact_from_pair_stats(
        shared_minhash_cand_stats(spark, sf_dir)
    )


def _minhash_est_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END" for i in range(D.MINHASH_K)
    )
    return f"""
WITH {SQL_DOC_SHINGLES},
sig AS (SELECT doc_id, {sql_sig_cols()} FROM sh
        WHERE len(list_filter(shd, h -> h IS NOT NULL)) > 0),
bands AS ({sql_band_rows()}),
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


def _survivorship_sql() -> str:
    return f"""
WITH cl AS ({dedup_clusters_sql().strip()}),
sized AS (SELECT cl.doc, cl.cluster, d.n_chars
          FROM cl JOIN documents d ON d.doc_id = cl.doc),
k AS (SELECT cluster,
             -(max(struct_pack(a := n_chars, b := -doc)).b) AS keeper
      FROM sized GROUP BY cluster)
SELECT cl.doc, cl.cluster, k.keeper, cl.doc = k.keeper AS keep
FROM cl JOIN k ON cl.cluster = k.cluster
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
        lambda i: token_hash(
            F.array_join(F.slice(toks, (i + 1).cast("int"), SPAN_W), " ")
        ),
    )
    hashed = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
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


# ------------------------------------------- EMBEDDING DECONTAMINATION

# Cosine bar for the contamination verdict — the SemDeDup tau (the two
# operators answer the same "is this semantically the same item"
# question, one within-corpus, one across the train/eval boundary).
DECON_TAU = 0.55


def cross_split_decontaminate(embeddings, tau: float = DECON_TAU):
    """Train/eval decontamination scan in embedding space: the eval
    split (``vec_id % 10 == 0`` — the corpus_split_assign convention)
    must not appear, up to near-duplication, in the train split. For
    every label: train size, bucketed candidate-pair count, the MAXIMUM
    train-eval cosine found, and how many train vectors breach ``tau``.
    A clean corpus reports zero breaches WITH the observed margin — the
    report a training run archives as evidence eval was not leaked
    (planted-duplicate detection is property-tested).

    Scale shape: candidates are hyperplane-LSH bucket collisions (ONE
    equi-join on the bucket id — never train x eval), the same
    blocking as every registered ANN key; per-label reduction is an
    aggregate; the label-grain report rides on one left join."""
    e = S.with_norm(embeddings)
    n = e.select(
        "vec_id", "label", "vec", "nrm", S.lsh_bucket(F.col("vec")).alias("bucket")
    )
    tr = n.filter(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    te = n.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0).select(
        F.col("vec").alias("t_vec"), F.col("nrm").alias("t_nrm"), "bucket"
    )
    pairs = tr.join(te, "bucket").select(
        "vec_id",
        "label",
        S.cosine(
            F.col("vec"), F.col("t_vec"), F.col("nrm"), F.col("t_nrm")
        ).alias("cos"),
    )
    per_label = pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_cand_pairs"),
        (F.floor(F.max("cos") * 10000 + F.lit(0.5)) / 10000.0).alias("max_cos4"),
        F.count_distinct(
            F.when(F.col("cos") >= tau, F.col("vec_id"))
        ).alias("n_contaminated"),
    )
    base = tr.groupBy("label").agg(F.count(F.lit(1)).alias("n_train"))
    return (
        base.join(per_label, "label", "left")
        .select(
            "label",
            "n_train",
            F.coalesce(F.col("n_cand_pairs"), F.lit(0)).alias("n_cand_pairs"),
            F.coalesce(F.col("max_cos4"), F.lit(-1.0)).alias("max_cos4"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
        )
        .orderBy("label")
    )


def _embed_decontaminate(spark, sf_dir):
    return cross_split_decontaminate(t(spark, sf_dir, "embeddings"))


def _decon_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
n AS (SELECT * FROM (
        SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm,
               CAST({_sql_lsh_bucket()} AS BIGINT) AS bucket
        FROM e) WHERE nrm > 0),
tr AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
te AS (SELECT v AS t_vec, nrm AS t_nrm, bucket FROM n WHERE vec_id % 10 = 0),
pairs AS (
  SELECT tr.vec_id, tr.label,
         list_dot_product(tr.v, te.t_vec) / (tr.nrm * te.t_nrm) AS cos
  FROM tr JOIN te USING (bucket)
),
pl AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_cand_pairs,
         floor(max(cos) * 10000 + 0.5) / 10000.0 AS max_cos4,
         CAST(count(DISTINCT CASE WHEN cos >= {DECON_TAU} THEN vec_id END)
              AS BIGINT) AS n_contaminated
  FROM pairs GROUP BY label
),
base AS (SELECT label, CAST(count(*) AS BIGINT) AS n_train
         FROM tr GROUP BY label)
SELECT base.label, base.n_train,
       CAST(COALESCE(pl.n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
       COALESCE(pl.max_cos4, -1.0) AS max_cos4,
       CAST(COALESCE(pl.n_contaminated, 0) AS BIGINT) AS n_contaminated
FROM base LEFT JOIN pl USING (label)
ORDER BY base.label
"""


# ----------------------------------------------------- K-MEANS (LLOYD)


def _embed_kmeans_lloyd(spark, sf_dir):
    """Deterministic 3-round Lloyd k-means over SQ8 codes — see
    ext.similarity.kmeans_lloyd for the integer-exactness and
    per-round scale argument. The oracle unrolls the three rounds in
    SQL exactly like graph_pagerank's unrolled recurrence."""
    return S.kmeans_lloyd(
        t(spark, sf_dir, "embeddings"),
        codes=shared_sq8_codes(spark, sf_dir),
    )


def _kmeans_sql() -> str:
    k, rounds = S.KM_K, S.KM_ROUNDS
    parts = [
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5) AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),"""
    ]
    parts.append(
        f"st0 AS (SELECT vec_id AS cid, CAST(1 AS BIGINT) AS cnt, c AS s"
        f" FROM codes ORDER BY vec_id LIMIT {k}),"
    )
    for r in range(rounds):
        parts.append(
            f"""a{r} AS (
  SELECT vec_id, c, cid, d2, cnt FROM (
    SELECT codes.vec_id, codes.c, st{r}.cid, st{r}.cnt,
      CAST(list_sum(list_transform(range(1, len(codes.c)+1),
           i -> (st{r}.cnt*codes.c[i] - st{r}.s[i])
              * (st{r}.cnt*codes.c[i] - st{r}.s[i]))) AS BIGINT) AS d2,
      row_number() OVER (PARTITION BY codes.vec_id ORDER BY
        CAST(list_sum(list_transform(range(1, len(codes.c)+1),
           i -> (st{r}.cnt*codes.c[i] - st{r}.s[i])
              * (st{r}.cnt*codes.c[i] - st{r}.s[i]))) AS DOUBLE)
          / (st{r}.cnt * st{r}.cnt), st{r}.cid) AS pr
    FROM codes, st{r}) WHERE pr = 1),"""
        )
        if r < rounds - 1:
            parts.append(
                f"""u{r} AS (
  SELECT cid, i AS pos, CAST(sum(c[i]) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT cid, c, unnest(range(1, len(c)+1)) AS i FROM a{r})
  GROUP BY cid, i),
st{r + 1} AS (SELECT cid, max(n) AS cnt, list(sx ORDER BY pos) AS s
  FROM u{r} GROUP BY cid),"""
            )
    last = rounds - 1
    parts.append(
        f"""final AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         CAST(min(vec_id) AS BIGINT) AS rep_id,
         floor(CAST(sum(d2) AS DOUBLE) / (max(cnt) * max(cnt))
               * 10000 + 0.5) / 10000.0 AS inertia4
  FROM a{last} GROUP BY cid)
SELECT cid, n_members, rep_id, inertia4 FROM final ORDER BY cid"""
    )
    return "\n".join(parts)


# ------------------------------------------- LSH CANDIDATE RECALL EVAL

# Ground-truth threshold for the eval — the dedup family's tau. The
# b=8, r=4 banding has its S-curve midpoint near (1/8)^(1/4) ~ 0.59,
# so at tau=0.5 candidate recall is genuinely < 1 and the eval
# measures a real trade, not a tautology.
LSH_EVAL_TAU = 0.5


def lsh_recall_eval(docs, sig=None, cand=None):
    """Candidate-generation quality of MinHash-LSH banding, measured
    against exact shingle-Jaccard ground truth — the dedup counterpart
    of ann_recall_eval, and the number that decides the (bands, rows)
    configuration before a corpus-scale dedup run: RECALL is the
    fraction of true near-dup pairs (exact Jaccard >= tau) the band
    collisions recover; candidate PRECISION is the fraction of
    collisions worth verifying (1 - wasted verify work).

    Ground truth comes from the shared-shingle blocking
    (ext.dedup.ngram_jaccard_pairs) — exhaustive for pairs above tau
    except pairs whose every shared shingle exceeds the hot-DF guard
    (documented there; none exist in the fixtures). Scale shape: both
    pipelines are the registered bucketed forms (never all-pairs); the
    three scalar counts combine as 1-row broadcast attaches (q14
    shape)."""
    if cand is None:  # standalone form: derive candidates in-memory
        if sig is None:
            sig = D.with_minhash(docs, "doc_id", "text")
        bands = sig.select("doc", *D.band_keys()).persist()
        cand = D.lsh_candidate_pairs(bands)
    truth = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=LSH_EVAL_TAU
    ).select("doc_a", "doc_b")
    # the truth side feeds BOTH the n_truth count and the hit semi-join;
    # truncate lineage so the exact-pairs pass (candidate equi-join +
    # array-Jaccard verify — the whole cost of this key) executes once,
    # not once per consumer (r11; the stored grain is the ≥tau pair
    # list, strictly smaller than anything upstream)
    truth = truncate_lineage(truth)
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    q4 = lambda num, den: F.when(
        F.col(den) > 0,
        F.floor(F.col(num).cast("double") / F.col(den) * 10000 + F.lit(0.5))
        / 10000.0,
    ).otherwise(F.lit(-1.0))
    return (
        nt.join(F.broadcast(nc))
        .join(F.broadcast(nh))
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            q4("n_hit", "n_cand").alias("cand_precision4"),
            q4("n_hit", "n_truth").alias("recall4"),
        )
    )


def _dedup_lsh_recall_eval(spark, sf_dir):
    # candidates come straight off the materialized candidate-stats
    # stage (r10) — a two-column pruned scan; the exact-Jaccard truth
    # side is this key's own work and stays live
    return lsh_recall_eval(
        t(spark, sf_dir, "documents"),
        cand=shared_minhash_cand_stats(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
    )


def _lsh_recall_sql() -> str:
    return f"""
WITH {SQL_DOC_SHINGLES},
sig AS (SELECT doc_id, {sql_sig_cols()} FROM sh
        WHERE len(list_filter(shd, h -> h IS NOT NULL)) > 0),
bands AS ({sql_band_rows()}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ex AS (SELECT doc_id, unnest(shd) AS s FROM sh),
hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > {D.NGRAM_MAX_DF}),
ex2 AS (SELECT ex.* FROM ex LEFT JOIN hot USING (s) WHERE hot.s IS NULL),
tc AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
),
truth AS (
  SELECT doc_a, doc_b FROM (
    SELECT tc.doc_a, tc.doc_b,
           len(list_intersect(x.shd, y.shd))::DOUBLE
             / (len(x.shd) + len(y.shd) - len(list_intersect(x.shd, y.shd)))
             AS j
    FROM tc JOIN sh x ON x.doc_id = tc.doc_a
            JOIN sh y ON y.doc_id = tc.doc_b)
  WHERE j >= {LSH_EVAL_TAU}
),
hit AS (SELECT truth.* FROM truth
        JOIN cand ON cand.doc_a = truth.doc_a AND cand.doc_b = truth.doc_b),
c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
SELECT n_truth, n_cand, n_hit,
       CASE WHEN n_cand > 0
            THEN floor(n_hit::DOUBLE / n_cand * 10000 + 0.5) / 10000.0
            ELSE -1.0 END AS cand_precision4,
       CASE WHEN n_truth > 0
            THEN floor(n_hit::DOUBLE / n_truth * 10000 + 0.5) / 10000.0
            ELSE -1.0 END AS recall4
FROM c
"""


# --------------------------------------------- PRODUCT QUANTIZATION

# Query set for the PQ ADC key: one in 40 vectors (13 queries at the
# 500-vector SFs, 50 at sf0.1) — queries may coincide with codebook
# seeds, which is realistic (a stored vector queried against the rest).
PQ_QUERY_MOD = 40


def _embed_pq_adc(spark, sf_dir):
    """PQ-compressed ANN with per-query ADC lookup tables — see
    ext.similarity.pq_adc_topk for the integer-exact training design
    and the fixed-order ADC fold that make an iterative trained
    quantizer hash-verifiable. Completes the ANN compression ladder
    (brute cosine → LSH → IVF → SQ8 → PQ/ADC)."""
    emb = t(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(
        emb,
        F.col("vec_id") % PQ_QUERY_MOD == 0,
        codes=shared_sq8_codes(spark, sf_dir),
    )


def _pq_sql() -> str:
    m, kc, rounds, k = S.PQ_M, S.PQ_K, S.PQ_ROUNDS, S.PQ_TOPK
    dsub = 64 // m  # fixture embeddings are 64-dim (asserted by codes CTE)
    parts = [
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
idx AS (SELECT vec_id, v, unnest(range(1, len(v)+1)) AS i FROM e),
d AS (SELECT i AS pos, min(v[i]) AS mn, max(v[i]) AS mx FROM idx GROUP BY 1),
b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx FROM d),
codes AS (SELECT vec_id,
  list_transform(range(1, len(v)+1), i ->
    CASE WHEN b.mx[i] > b.mn[i]
         THEN CAST(floor((v[i] - b.mn[i]) / (b.mx[i] - b.mn[i]) * 255 + 0.5) AS BIGINT)
         ELSE 0 END) AS c
  FROM e CROSS JOIN b),"""
    ]
    parts.append(
        f"""subs AS (
  SELECT vec_id, sub,
         list_transform(range(1, {dsub + 1}), i -> c[sub*{dsub} + i]) AS sc
  FROM (SELECT vec_id, c, unnest(range(0, {m})) AS sub FROM codes)),
st0 AS (
  SELECT vec_id AS cid, sub, CAST(1 AS BIGINT) AS cnt, sc AS s
  FROM subs WHERE vec_id IN
    (SELECT vec_id FROM codes ORDER BY vec_id LIMIT {kc})),"""
    )
    for r in range(rounds):
        parts.append(
            f"""a{r} AS (
  SELECT vec_id, sub, cid, sc FROM (
    SELECT subs.vec_id, subs.sub, st{r}.cid, subs.sc,
      row_number() OVER (PARTITION BY subs.vec_id, subs.sub ORDER BY
        CAST(list_sum(list_transform(range(1, {dsub + 1}),
           i -> (st{r}.cnt*subs.sc[i] - st{r}.s[i])
              * (st{r}.cnt*subs.sc[i] - st{r}.s[i]))) AS DOUBLE)
          / (st{r}.cnt * st{r}.cnt), st{r}.cid) AS pr
    FROM subs JOIN st{r} ON st{r}.sub = subs.sub) WHERE pr = 1),"""
        )
        if r < rounds - 1:
            parts.append(
                f"""u{r} AS (
  SELECT sub, cid, i AS pos, CAST(sum(sc[i]) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT sub, cid, sc, unnest(range(1, {dsub + 1})) AS i FROM a{r})
  GROUP BY sub, cid, i),
st{r + 1} AS (SELECT sub, cid, max(n) AS cnt, list(sx ORDER BY pos) AS s
  FROM u{r} GROUP BY sub, cid),"""
            )
    last = rounds - 1
    adc_sum = "((d0 + d1) + d2) + d3" if m == 4 else " + ".join(
        f"d{s}" for s in range(m)
    )
    per_sub_cols = ",\n         ".join(
        f"max(CASE WHEN sub = {s} THEN dq END) AS d{s}" for s in range(m)
    )
    parts.append(
        f"""lut AS (
  SELECT q.vec_id AS query_id, q.sub, st{last}.cid,
         CAST(list_sum(list_transform(range(1, {dsub + 1}),
            i -> (st{last}.cnt*q.sc[i] - st{last}.s[i])
               * (st{last}.cnt*q.sc[i] - st{last}.s[i]))) AS DOUBLE)
           / (st{last}.cnt * st{last}.cnt) AS dq
  FROM (SELECT * FROM subs WHERE vec_id % {PQ_QUERY_MOD} = 0) q
  JOIN st{last} ON st{last}.sub = q.sub),
enc AS (SELECT vec_id AS cand_id, sub, cid FROM a{last}
        WHERE vec_id % {PQ_QUERY_MOD} <> 0),
paired AS (
  SELECT query_id, cand_id,
         {per_sub_cols}
  FROM enc JOIN lut USING (sub, cid)
  GROUP BY query_id, cand_id),
ranked AS (
  SELECT query_id, cand_id, {adc_sum} AS adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {adc_sum}, cand_id) AS rnk
  FROM paired)
SELECT query_id, cand_id, CAST(rnk AS BIGINT) AS rnk,
       floor(adc * 10000 + 0.5) / 10000.0 AS adc4
FROM ranked WHERE rnk <= {k}"""
    )
    return "\n".join(parts)


def blocking_recall(part):
    """Entity-resolution blocking-strategy audit: plant one corrupted
    duplicate per distinct entity name (hash-picked token loses its
    last character — the deterministic-corruption analog of
    dedup_lsh_recall_eval's planted duplicates), then measure, for
    three standard blocking keys (first token, last token, initials),
    the planted-pair recall AND the candidate-pair cost
    Σ C(block_size, 2) — the recall/cost frontier every ER pipeline
    tunes before running its expensive matcher.

    Truth-pair recall needs NO pair join: duplicates are 1:1 by
    construction, so found = the clean and dirty keys agree ROW-WISE;
    candidate cost comes from block-size aggregates, never
    materialized pairs.  Everything is integer counts at the
    distinct-entity grain."""
    names = part.select(F.col("p_name").alias("name")).distinct()
    toks = F.split(F.col("name"), " ")
    ci = F.pmod(token_hash(F.concat(F.lit("erb:"), F.col("name"))), F.size(toks))
    corrupted = F.array_join(
        F.transform(
            toks,
            lambda x, i: F.when(
                i == ci, F.substring(x, 1, F.length(x) - 1)
            ).otherwise(x),
        ),
        " ",
    )
    both = names.select("name", corrupted.alias("dirty"))

    def keys(col):
        tk = F.split(col, " ")
        return F.array(
            F.struct(
                F.lit("first_tok").alias("strategy"),
                F.element_at(tk, 1).alias("k"),
            ),
            F.struct(
                F.lit("last_tok").alias("strategy"),
                F.element_at(tk, -1).alias("k"),
            ),
            F.struct(
                F.lit("initials").alias("strategy"),
                F.array_join(
                    F.transform(tk, lambda x: F.substring(x, 1, 1)), ""
                ).alias("k"),
            ),
        )

    truth = (
        both.select(
            F.explode(F.arrays_zip(keys(F.col("name")), keys(F.col("dirty")))).alias(
                "z"
            )
        )
        .select(
            F.col("z.0.strategy").alias("strategy"),
            (F.col("z.0.k") == F.col("z.1.k")).cast("long").alias("found"),
        )
        .groupBy("strategy")
        .agg(F.count(F.lit(1)).alias("n_truth"), F.sum("found").alias("n_found"))
    )
    union = both.select(F.col("name").alias("n")).unionByName(
        both.select(F.col("dirty").alias("n"))
    )
    blocks = (
        union.select(F.explode(keys(F.col("n"))).alias("s"))
        .select("s.strategy", "s.k")
        .groupBy("strategy", "k")
        .agg(F.count(F.lit(1)).alias("bs"))
        .groupBy("strategy")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.expr("bs * (bs - 1) div 2")).alias("n_candidates"),
        )
    )
    return (
        truth.join(blocks, "strategy")
        .select(
            "strategy",
            "n_truth",
            "n_found",
            (
                F.floor(
                    F.col("n_found") / F.col("n_truth").cast("double") * 1000000
                    + F.lit(0.5)
                )
                / 1000000.0
            ).alias("recall6"),
            "n_blocks",
            "n_candidates",
        )
        .orderBy("strategy")
    )


def _er_blocking_recall(spark, sf_dir):
    return blocking_recall(t(spark, sf_dir, "part"))


_ERB_SQL = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
corr AS (
  SELECT name,
         array_to_string(
           list_transform(string_split(name, ' '),
             (x, i) -> CASE WHEN i - 1 =
                 ('0x' || substr(md5('erb:' || name), 1, 8))::BIGINT
                   % len(string_split(name, ' '))
               THEN substr(x, 1, length(x) - 1) ELSE x END),
           ' ') AS dirty
  FROM names
),
strat(s) AS (SELECT unnest(['first_tok', 'last_tok', 'initials'])),
keyed AS (
  SELECT c.name, c.dirty, s.s AS strategy,
         CASE s.s
           WHEN 'first_tok' THEN string_split(c.name, ' ')[1]
           WHEN 'last_tok' THEN string_split(c.name, ' ')[-1]
           ELSE array_to_string(list_transform(string_split(c.name, ' '),
                                x -> substr(x, 1, 1)), '')
         END AS k_clean,
         CASE s.s
           WHEN 'first_tok' THEN string_split(c.dirty, ' ')[1]
           WHEN 'last_tok' THEN string_split(c.dirty, ' ')[-1]
           ELSE array_to_string(list_transform(string_split(c.dirty, ' '),
                                x -> substr(x, 1, 1)), '')
         END AS k_dirty
  FROM corr c, strat s
),
truth AS (
  SELECT strategy, CAST(count(*) AS BIGINT) AS n_truth,
         CAST(sum(CASE WHEN k_clean = k_dirty THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found
  FROM keyed GROUP BY strategy
),
uni AS (
  SELECT name AS n FROM corr UNION ALL SELECT dirty AS n FROM corr
),
ukeyed AS (
  SELECT s.s AS strategy,
         CASE s.s
           WHEN 'first_tok' THEN string_split(u.n, ' ')[1]
           WHEN 'last_tok' THEN string_split(u.n, ' ')[-1]
           ELSE array_to_string(list_transform(string_split(u.n, ' '),
                                x -> substr(x, 1, 1)), '')
         END AS k
  FROM uni u, strat s
),
blocks AS (
  SELECT strategy, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(bs * (bs - 1) // 2) AS BIGINT) AS n_candidates
  FROM (SELECT strategy, k, CAST(count(*) AS BIGINT) AS bs
        FROM ukeyed GROUP BY 1, 2)
  GROUP BY strategy
)
SELECT t.strategy, t.n_truth, t.n_found,
       floor(CAST(t.n_found AS DOUBLE) / CAST(t.n_truth AS DOUBLE)
             * 1000000 + 0.5) / 1000000.0 AS recall6,
       b.n_blocks, b.n_candidates
FROM truth t JOIN blocks b ON t.strategy = b.strategy
ORDER BY t.strategy
"""

GEO_R2 = 1000 * 1000     # radius^2 (radius = one cell side)

GEO_QUERY_MOD = 20       # every 20th part is a query point

GEO_CELL = 1000          # cell side length in coordinate units


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
            (token_hash(F.concat(F.col("id").cast("string"), F.lit("gx")))).alias("hx"),
            (token_hash(F.concat(F.col("id").cast("string"), F.lit("gy")))).alias("hy"),
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
            token_hash(F.concat(F.col("rid").cast("string"), F.lit("bx"))).alias("hx"),
            token_hash(F.concat(F.col("rid").cast("string"), F.lit("by"))).alias("hy"),
            (
                500 + token_hash(F.concat(F.col("rid").cast("string"), F.lit("bw")))
                % (GEO_BOX_MAXHALF - 500)
            ).alias("hw"),
            (
                500 + token_hash(F.concat(F.col("rid").cast("string"), F.lit("bh")))
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
  SELECT doc_id AS id, rnk AS bm25_rnk FROM ({BM25_SQL})
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


SIMILARITY_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef(
            "dedup_distinct",
            _dedup_distinct,
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        ),
        QueryDef(
            "dedup_exact_hash",
            _dedup_exact,
            """SELECT md5(text) AS fingerprint, min(doc_id) AS canonical_id,
                      count(*) AS n_copies
               FROM documents GROUP BY 1""",
        ),
        QueryDef("dedup_minhash_lsh", _dedup_minhash, MINHASH_SQL),
        QueryDef("dedup_ngram_jaccard", _dedup_ngram, _NGRAM_SQL),
        QueryDef("dedup_simhash", _dedup_simhash, _sql_simhash()),
        QueryDef(
            "dedup_embedding_cosine",
            _dedup_embedding_cosine,
            _COS_PAIRS_BUCKETED_SQL,
        ),
        QueryDef("dedup_clusters", _dedup_clusters, dedup_clusters_sql()),
        QueryDef("ann_cosine_topk", _ann_topk, _TOPK_SQL),
        QueryDef("ann_lsh_bucketed", _ann_lsh, _LSH_BUCKET_SQL),
        QueryDef("ann_lsh_topk", _ann_lsh_topk, _LSH_TOPK_SQL),
        QueryDef("ann_ivf_topk", _ann_ivf_topk, _IVF_TOPK_SQL),
        QueryDef("ann_lsh_multitable", _ann_lsh_multitable, _multitable_sql()),
        QueryDef("ann_knn_classify", _ann_knn_classify, _KNN_CLASSIFY_SQL),
        QueryDef("embed_cluster_assign", _embed_cluster_assign, _CLUSTER_ASSIGN_SQL),
        QueryDef("embed_dim_stats", _embed_dim_stats, _DIM_STATS_SQL),
        QueryDef("er_fuzzy_pairs", _er_fuzzy_pairs, _ER_FUZZY_SQL),
        QueryDef("er_edit_distance", _er_edit_distance, _ER_EDIT_SQL),
        QueryDef("ann_sq8_topk", _ann_sq8_topk, _SQ8_SQL),
        QueryDef("embed_corr_matrix", _embed_corr_matrix, _CORR_SQL),
        QueryDef("dedup_simhash_pairs", _dedup_simhash_pairs, _simhash_pairs_sql()),
        QueryDef("ann_recall_eval", _ann_recall_eval, _recall_sql()),
        QueryDef(
            "dedup_containment_pairs",
            _dedup_containment_pairs,
            _containment_sql(),
        ),
        QueryDef("dedup_threshold_sweep", _dedup_threshold_sweep, _sweep_sql()),
        QueryDef(
            "dedup_minhash_jaccard_est",
            _dedup_minhash_jaccard_est,
            _minhash_est_sql(),
        ),
        QueryDef("embed_knn_graph", _embed_knn_graph, _knn_graph_sql()),
        QueryDef("embed_outlier_score", _embed_outlier_score, _OUTLIER_SQL),
        QueryDef("dedup_survivorship", dedup_survivorship, _survivorship_sql()),
        QueryDef("embed_power_iteration", _embed_power_iteration, _power_sql()),
        QueryDef("dedup_span_ngrams", _dedup_span_ngrams, _SPAN_SQL),
        QueryDef("embed_semdedup", _embed_semdedup, _SEMDEDUP_SQL),
        QueryDef("embed_decontaminate", _embed_decontaminate, _decon_sql()),
        QueryDef("embed_kmeans_lloyd", _embed_kmeans_lloyd, _kmeans_sql()),
        QueryDef("dedup_lsh_recall_eval", _dedup_lsh_recall_eval, _lsh_recall_sql()),
        QueryDef("embed_pq_adc", _embed_pq_adc, _pq_sql()),
        QueryDef("er_blocking_recall", _er_blocking_recall, _ERB_SQL),
        QueryDef("geo_grid_knn", _geo_grid_knn, _GEO_KNN_SQL),
        QueryDef("geo_bbox_contain", _geo_bbox_contain, _GEO_BBOX_SQL),
        QueryDef("embed_random_projection", _embed_random_projection, _RP_SQL),
        QueryDef("embed_mmr_select", _embed_mmr_select, _mmr_sql()),
        QueryDef("rag_hybrid_rrf", _rag_hybrid_rrf, _RRF_SQL),
        QueryDef("embed_matryoshka_recall", _embed_matryoshka_recall, _MRL_SQL),
        QueryDef("embed_drift_centroid", _embed_drift_centroid, _DRIFT_EMB_SQL),
    )
}
