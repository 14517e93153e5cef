"""Shared plumbing for the driver-facing query registry.

Exactness rules every domain module follows, so a Spark result and its
DuckDB oracle hash to the same value:

- the session timezone is pinned UTC (``t`` calls ``configure_runtime``);
- every computed column is aliased identically on both sides;
- money and quantities aggregate as exact int64 cents (``cents``,
  ``money_sum``), and floats are rounded with the IEEE-stable
  ``floor(x * 10^k + 0.5) / 10^k`` helpers below, never an engine's own
  ``round()``;
- every other statistic is pure int64 arithmetic or ONE double
  expression over exact int64 casts, written identically in both
  engines, and each exported float term is quantized before any
  cross-row sum (the fold-order rule);
- every ranked output carries an explicit total order.

This module also holds the materialized stages several keys share and
the few pieces (oracle SQL atoms, constants, the BM25 and survivorship
operators) that keys of two domain modules both use.
"""

from __future__ import annotations

import os
import threading as _threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ext import dedup as D
from .ext.similarity import sq8_codes
from .ext.text import doc_char_trigram_counts, tokens
from .ops import graph as G
from .ops.scale import ranked_topk
from .session import configure_runtime


@dataclass
class QueryDef:
    """One driver-checkable query: a Spark callable plus (usually) an
    ANSI-SQL DuckDB oracle computing the same result with the same
    column names. ``sql=None`` → non-SQL-expressible; the driver records
    a weaker rows-only check."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None


# --- IEEE-stable money/rounding helpers -------------------------------
# Engine-native round() differs between Spark (java BigDecimal HALF_UP on
# the binary double) and DuckDB at exact-half edge cases. These helpers
# use only IEEE-754 ops (*, +, floor, /) that both engines evaluate
# bit-identically, so oracle value-hashes can't flip on rounding ties.


def cents(col: F.Column) -> F.Column:
    """double → integer cents, half-up via floor(x*100 + 0.5)."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def round2(col: F.Column) -> F.Column:
    """IEEE-stable 2-decimal round of a per-row double expression."""
    return F.floor(col * 100 + F.lit(0.5)) / 100.0


def money_sum(col: F.Column) -> F.Column:
    """Exact aggregate: sum int64 cents (order-independent), then /100."""
    return F.sum(cents(col)) / 100.0


def money_avg(col: F.Column) -> F.Column:
    return F.sum(cents(col)).cast("double") / F.count(F.lit(1)) / 100.0


def sql_round2(expr: str) -> str:
    return f"floor(({expr}) * 100 + 0.5) / 100.0"


def sql_money_sum(expr: str) -> str:
    return f"sum(CAST(floor(({expr}) * 100 + 0.5) AS BIGINT)) / 100.0"


def sql_money_avg(expr: str) -> str:
    return (
        f"CAST(sum(CAST(floor(({expr}) * 100 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / count(*) / 100.0"
    )


# --- shared materialized stages ----------------------------------------

# stage name -> build seconds, for bench/driver transparency: the cost
# of a shared stage is paid once per process, not hidden
SHARED_STAGE_BUILD_SEC: dict[str, float] = {}


# The stage-acceptance rule as a STANDING GATE (VERDICT r10 item 6).
# A shared materialized stage earns its storage only when the SHARED
# projection dominates the consumers' cost — heavy shared CPU or a
# strictly smaller stored grain. The dominance bound that two rejected
# proposals derived (SCALING.md §27 ngram-pair family, §30 tokenized
# documents): if scanning the staged projection costs >= recomputing it
# inline from the source scan, NO consumer can win, no matter how many
# consumers share the input — reject without further measurement.
#
# Every accepted stage records its same-sitting idle min-of-3 family
# A/B (seconds, sf0.1, local[32]) and one-time build cost; every
# rejected proposal records the numbers that killed it. A future stage
# lands only by adding its entry with both numbers —
# tests/test_scale_ops.py::test_stage_evidence_gate fails on any
# shared_* stage without accepted evidence, any accepted entry whose
# numbers do not actually improve the family, and any rejected entry
# whose numbers do not actually fire the bound.
STAGE_EVIDENCE: dict[str, dict] = {
    "shared_cooccurrence_edges": {
        "accepted": True, "family_before_sec": 34.1,
        "family_after_sec": 8.7, "build_sec": 2.8,
        "where": "SCALING.md §27",
    },
    "shared_minhash_signatures": {
        "accepted": True, "family_before_sec": 16.0,
        "family_after_sec": 11.9, "build_sec": 1.5,
        "where": "SCALING.md §27",
    },
    "shared_char_trigrams": {
        "accepted": True, "family_before_sec": 6.50,
        "family_after_sec": 4.05, "build_sec": 1.9,
        "where": "SCALING.md §28",
    },
    "shared_sq8_codes": {
        "accepted": True, "family_before_sec": 21.39,
        "family_after_sec": 14.29, "build_sec": 0.85,
        "where": "SCALING.md §29",
    },
    # the r10 pair measured as ONE family A/B (the seven banded-dedup
    # consumers read both stages); builds recorded separately
    "shared_minhash_cand_stats": {
        "accepted": True, "family_before_sec": 14.04,
        "family_after_sec": 5.44, "build_sec": 10.5,
        "where": "SCALING.md §31",
    },
    "shared_minhash_clusters": {
        "accepted": True, "family_before_sec": 14.04,
        "family_after_sec": 5.44, "build_sec": 2.5,
        "where": "SCALING.md §31",
    },
    # rejected proposals — the precedents the bound came from
    "ngram_pairs_via_signature_stage": {
        "accepted": False,
        # per-consumer sec, direct vs through the stage (3 consumers)
        "recompute_sec": 1.8, "stage_scan_sec": 2.2,
        "where": "SCALING.md §27",
    },
    "tokenized_documents": {
        "accepted": False,
        "recompute_sec": 0.577, "stage_scan_sec": 0.619,
        "build_sec": 8.25,
        "where": "SCALING.md §30",
    },
}


_REAPED = False
# created at import time: lazy creation of the lock would itself race
_REAP_LOCK = _threading.Lock()


def _reap_stale_tmp() -> None:
    """Best-effort cleanup of fdis_* temp artifacts left by DEAD
    processes (ADVICE r7: roundtrip sinks and stage parquet accumulate
    across runs). Every fdis path embeds the owning pid —
    ``fdis_<pid>_<stage>.parquet`` and ``fdis_<fmt>_roundtrip_<pid>_
    <sf>`` — so anything whose pid no longer exists is garbage.

    Own-pid entries are ALSO reaped on this first call (ADVICE r8, pid
    reuse): Linux pids wrap, so a fresh process can inherit a dead
    process's pid and would otherwise silently serve its stale stage
    parquet. The first call runs before this process has written any
    fdis artifact — every fdis writer calls this before its first write
    — so anything own-pid on disk at that moment is a previous
    incarnation's leftovers, never our data. Runs once per process,
    never touches another LIVE process's files, and never raises
    (cleanup must not fail a query).

    The WHOLE first-call sweep runs under ``_REAP_LOCK`` with
    ``_REAPED`` set inside it (ADVICE r9): setting the flag before the
    sweep let a second thread's first call return immediately and write
    an own-pid stage parquet while the first caller's own-pid sweep was
    still deleting — the fresh stage could be reaped, surfacing later
    as a FAILED_READ_FILE. Concurrent first callers now block until the
    sweep completes before any stage write proceeds."""
    global _REAPED
    if _REAPED:  # lock-free fast path once the one sweep has finished
        return
    with _REAP_LOCK:
        if _REAPED:
            return
        import re
        import shutil
        import tempfile

        # the pid is the FIRST pure-digit segment after any
        # lowercase-word prefix: fdis_<pid>_...,
        # fdis_<fmt>_roundtrip_<pid>[_<sf>],
        # fdis_sink_roundtrip_<pid>_<sf>, fdis_compact_plan_<pid>_<sf>
        pat = re.compile(r"^fdis_(?:[a-z]+_)*?(\d+)(?:[_.]|$)")
        tmp = tempfile.gettempdir()
        try:
            entries = os.listdir(tmp)
        except OSError:
            entries = []
        for name in entries:
            m = pat.match(name)
            if not m:
                continue
            pid = int(m.group(1))
            if pid != os.getpid():
                try:
                    os.kill(pid, 0)
                    continue  # owner still alive — leave it
                except ProcessLookupError:
                    pass
                except OSError:
                    continue  # permission oddity — do not touch
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        # only now may later callers skip the sweep
        _REAPED = True


_STAGE_LOCKS: dict = {}
_STAGE_LOCKS_GUARD = _threading.Lock()  # eager: lazy creation would race


def _stage_lock(stage: str):
    """Per-stage process-local lock (ADVICE r8): two threads building
    queries over the same (pid, stage) must not race the exists-check +
    overwrite-write — drivers run serially today, but lazy cross-SF
    interleaving (the r8 sink-clobber bug) shows concurrency is a real
    usage mode."""
    with _STAGE_LOCKS_GUARD:
        return _STAGE_LOCKS.setdefault(stage, _threading.Lock())


def _materialized_stage(spark: SparkSession, stage: str, build) -> DataFrame:
    """Build-once-per-process parquet stage: the first call per
    (process, stage) runs ``build()`` and sinks it; every later call is
    a plain columnar scan. The path is keyed by pid + stage name —
    fresh processes rebuild because :func:`_reap_stale_tmp` clears ANY
    pre-existing fdis entry for this pid (including pid-reuse leftovers)
    before the first write — and one process never collides across SFs
    or parameters because the stage name embeds them. The exists-check +
    write is serialized per stage for thread safety."""
    import tempfile
    import time

    _reap_stale_tmp()
    path = os.path.join(
        tempfile.gettempdir(), f"fdis_{os.getpid()}_{stage}.parquet"
    )
    with _stage_lock(stage):
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            t0 = time.perf_counter()
            build().write.mode("overwrite").parquet(path)
            SHARED_STAGE_BUILD_SEC[stage] = round(
                time.perf_counter() - t0, 3
            )
    return spark.read.parquet(path)


def _sf_tag(sf_dir: str) -> str:
    """Stage-name tag for one fixture dir: human-readable basename plus
    a short digest of the NORMALIZED ABSOLUTE path (ADVICE r8) — two
    distinct dirs sharing a basename (/a/sf0.001 vs /b/sf0.001) must
    not collide on one process's materialized stage."""
    import hashlib

    ap = os.path.abspath(os.path.normpath(sf_dir))
    return (
        f"{os.path.basename(ap)}-"
        f"{hashlib.md5(ap.encode('utf-8')).hexdigest()[:8]}"
    )


def shared_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash signature table (doc, shd hashed-shingle set, sig
    32-permutation signature) over ``documents`` as a MATERIALIZED
    shared stage — the dedup twin of :func:`shared_cooccurrence_edges`:
    seven dedup keys (minhash_lsh, clusters, survivorship, the full
    pipeline, rate-by-source, jaccard_est, lsh_recall_eval) each used
    to re-run the md5-per-shingle + 32-permutation fold over the whole
    corpus — the most CPU-expensive projection in the package — to
    derive the identical table. One build per (process, sf), then
    column-pruned parquet scans.

    At 100 TB this IS the architecture, not an optimization: signature
    tables are staged intermediates a curation pipeline computes once
    per corpus snapshot and every downstream dedup/eval job reads.
    Values are deterministic (md5 + integer permutations), so the
    DuckDB oracles keep recomputing them relationally."""
    sf = _sf_tag(sf_dir)

    def build() -> DataFrame:
        return D.with_minhash(t(spark, sf_dir, "documents"), "doc_id", "text")

    return _materialized_stage(
        spark, f"minhash_{sf}_documents_doc_id_text", build
    )


def shared_minhash_cand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH candidate pairs with integer verify stats
    ``(doc_a, doc_b, n_inter, n_a, n_b, n_agree)`` as a MATERIALIZED
    shared stage (r10, fifth instance) layered ON TOP of the signature
    stage: SEVEN dedup keys (minhash_lsh, clusters, survivorship, the
    full pipeline, rate-by-source, jaccard_est, lsh_recall_eval) each
    re-ran the band self-equi-join + two full-width shingle-array
    joins + per-pair ``array_intersect`` to derive the identical pair
    table. One build per (process, sf), then column-pruned scans of a
    pair-grain four-int table — strictly smaller than the arrays it
    summarizes (the SQ8 rule), so consumers also shuffle less.

    At 100 TB this is the audited intermediate a dedup pipeline
    persists next to the signatures: candidates change only when the
    corpus or the banding changes, and every downstream
    filter/cluster/QA job reads the same pair facts. Integer columns →
    consumers reconstruct bit-identical IEEE doubles; DuckDB oracles
    keep recomputing relationally, hashes unaffected."""
    sf = _sf_tag(sf_dir)

    def build() -> DataFrame:
        return D.candidate_pair_stats(
            shared_minhash_signatures(spark, sf_dir)
        )

    return _materialized_stage(
        spark, f"candstats_{sf}_documents_doc_id_text", build
    )


def shared_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters ``(doc, cluster)`` at the tau=0.5 production
    threshold as a MATERIALIZED shared stage (r10, sixth instance):
    THREE keys (dedup_clusters, dedup_survivorship,
    corpus_dedup_pipeline) each re-ran the same iterative
    connected-components over the same pair set. CC is the one
    iterative piece of the dedup ladder — staging its fixpoint is
    exactly what a production pipeline does (the cluster map IS the
    dedup artifact jobs anti-join against). Deterministic min-id
    labels over a deterministic pair set; oracles unaffected."""
    sf = _sf_tag(sf_dir)

    def build() -> DataFrame:
        return D.clusters_from_pair_stats(
            shared_minhash_cand_stats(spark, sf_dir), 0.5
        )

    return _materialized_stage(
        spark, f"minclusters_{sf}_documents_doc_id_text_t05", build
    )


def shared_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document char-trigram counts ``(doc_id, source, lang, tri,
    m)`` over ``documents`` as a MATERIALIZED shared stage (r9) — the
    third instance of the r8 architecture: the trigram explode is the
    whole cost of `text_perplexity_bucket` (the sweep's most expensive
    key, whose old plan ran the explode TWICE — once for corpus counts,
    once for the per-doc join-back) and `text_char_trigram_lm` re-ran
    the identical generation. One build per (process, sf), then
    column-pruned parquet scans; the (doc, tri) grain also collapses
    within-doc repeats, so consumers aggregate the distinct grain.

    Values are exact integer counts, so the DuckDB oracles keep
    recomputing them relationally and hashes are unaffected."""
    sf = _sf_tag(sf_dir)

    def build() -> DataFrame:
        return doc_char_trigram_counts(t(spark, sf_dir, "documents"))

    return _materialized_stage(
        spark, f"trigrams_{sf}_documents_doc_id_text", build
    )


def shared_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8-quantized embedding codes ``(vec_id, c: array<long>)`` over
    ``embeddings`` as a MATERIALIZED shared stage (r9, fourth
    instance): NINE keys (ann_sq8_topk, kmeans, PQ, random-projection
    audit, MMR, hybrid RRF, matryoshka recall, centroid drift, NDCG)
    each re-derived the identical corpus quantization — a per-dim
    min/max pass over (rows × dims) plus the quantize projection —
    before their own work. One build per (process, sf), then
    column-pruned scans; at 100 TB the code table IS the serving
    artifact a vector store persists (4-8x smaller than floats), so
    the stage mirrors production layout, not just a cache.

    Values are exact integers (floor((x-mn)/(mx-mn)*255+0.5)), so the
    DuckDB oracles keep recomputing them relationally."""
    sf = _sf_tag(sf_dir)

    def build() -> DataFrame:
        return sq8_codes(t(spark, sf_dir, "embeddings"))

    return _materialized_stage(
        spark, f"sq8_{sf}_embeddings_vec_id", build
    )


def shared_cooccurrence_edges(
    spark: SparkSession,
    sf_dir: str,
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_groups: int = 2,
) -> DataFrame:
    """The thresholded co-occurrence edge table as a MATERIALIZED shared
    stage (round-7 verdict item 3): eleven graph keys consume the same
    (l_orderkey x l_partkey, >=2 shared orders) edge set, and each used
    to re-derive it from the fact table — 5 of the 12 slowest sweep keys
    were paying the same collect_set+HOF-explode build over and over.
    First call per (process, sf, params) builds it once and sinks it to
    parquet; every later call is a plain columnar scan.

    This is the warehouse pattern, not a bench trick: at 100 TB a graph
    consumed by a whole analytics family is a staged intermediate — one
    distributed build (one shuffle on the group key), then N readers
    that get column pruning, real row-count statistics for AQE (the
    recomputed form hides the edge count behind a generate), and zero
    repeated fact-table scans. Edge-set values are deterministic (a set
    of (src, dst) pairs), so the DuckDB oracles keep recomputing it
    relationally and hashes are unaffected.

    The path is keyed by pid + sf-dir digest + params: fresh processes
    rebuild (no cross-process staleness), and one process never
    collides across SFs, fixture dirs, or key columns."""
    sf = _sf_tag(sf_dir)

    def build() -> DataFrame:
        return G.cooccurrence_edges(
            t(spark, sf_dir, "lineitem"),
            group_col,
            item_col,
            min_groups=min_groups,
        )

    return _materialized_stage(
        spark, f"edges_{sf}_{group_col}_{item_col}_ge{min_groups}", build
    )


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; pins runtime confs (UTC tz) first.

    ``events.ts`` has shipped in two physical forms across fixture
    generations: parquet TIMESTAMP(NANOS), which Spark's type system
    lacks ([PARQUET_TYPE_ILLEGAL]) — read as epoch-nanos long
    (``spark.sql.legacy.parquet.nanosAsLong``) and converted with exact
    integer division (truncation to µs, same as DuckDB's ns→µs cast) —
    and plain TIMESTAMP(US) without UTC adjustment, which Spark reads
    as TIMESTAMP_NTZ. Both normalize to session-tz (UTC) TimestampType
    so every downstream operator (window/unix_micros/watermark) sees
    one type, and oracle parity matches DuckDB's naive-UTC reading.
    """
    configure_runtime(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --- pieces keys of two domain modules share --------------------------
#
# Oracle SQL atoms of the MinHash/LSH dedup pipeline (generated from the
# ext/dedup.py constants, so both engines compute bit-identical integer
# signatures), the co-occurrence edge CTE, the BM25 and survivorship
# operators, and the constants their consumers agree on.


# ------------------------------------------------------------ SQL atoms

SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"

SQL_HASH = "('0x' || substr(md5({s}), 1, 8))::BIGINT"


def sql_shingles(toks: str = "toks", k: int = D.SHINGLE_K) -> str:
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 2}), i -> {parts})) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


def sql_sig_cols() -> str:
    cols = []
    for i in range(D.MINHASH_K):
        a, b = D.MINHASH_A[i], D.MINHASH_B[i]
        cols.append(
            f"list_min(list_transform(shd, h -> ({a} * h + {b}) % {D.MERSENNE_P})) AS s{i}"
        )
    return ", ".join(cols)


def sql_band_rows() -> str:
    rows = []
    for bi in range(D.LSH_BANDS):
        parts = ", ".join(
            f"CAST(s{bi * D.LSH_ROWS + j} AS VARCHAR)" for j in range(D.LSH_ROWS)
        )
        rows.append(
            f"SELECT doc_id, {bi} AS band_idx, md5(concat_ws('-', {parts})) AS key FROM sig"
        )
    return " UNION ALL ".join(rows)


SQL_DOC_SHINGLES = f"""
tok AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
shs AS (SELECT doc_id, {sql_shingles()} AS sh FROM tok),
sh AS (SELECT doc_id,
              list_distinct(list_transform(sh, s -> {SQL_HASH.format(s='s')})) AS shd
       FROM shs)
"""

SQL_JACCARD_TAIL = """
pairs AS (
  SELECT doc_a, doc_b,
         len(list_intersect(x.shd, y.shd))::DOUBLE
           / (len(x.shd) + len(y.shd) - len(list_intersect(x.shd, y.shd))) AS j
  FROM cand JOIN sh x ON x.doc_id = cand.doc_a
            JOIN sh y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, floor(j * 10000 + 0.5) / 10000.0 AS jaccard
FROM pairs WHERE j >= 0.5
"""

MINHASH_SQL = f"""
WITH {SQL_DOC_SHINGLES},
sig AS (SELECT doc_id, {sql_sig_cols()} FROM sh
        WHERE len(list_filter(shd, h -> h IS NOT NULL)) > 0),
bands AS ({sql_band_rows()}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id),
{SQL_JACCARD_TAIL}
"""


def dedup_clusters_sql() -> str:
    # same pair graph as MINHASH_SQL, then min-reachable-label per node
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({MINHASH_SQL.strip()})),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
reach(node, label) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS doc, min(label) AS cluster FROM reach GROUP BY node
"""


PR_EDGES_CTE = """
SELECT a.i AS src, b.i AS dst
FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) b
  ON a.g = b.g AND a.i <> b.i
GROUP BY 1, 2 HAVING count(*) >= 2
"""


# Synthesized activity-interval length (and overlap-join bucket width),
# shared by the interval-overlap join and the peak-concurrency sweep.
OVERLAP_SPAN_S = 1200


# ------------------------------------------------ DEDUP SURVIVORSHIP


def dedup_survivorship(spark, sf_dir):
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


# Token-span width for exact substring dedup. The published systems use
# 50-token windows over BPE streams; the fixture docs are ~50-100
# whitespace tokens, so 5 keeps span counts per doc comparable to the
# published spans-per-page ratio at fixture scale.
SPAN_W = 5

RP_IN_DIMS = 64

BM25_QUERY = ("hash", "join", "spark", "vector")

BM25_TOPK = 15


def bm25_topk(docs, topk: int = BM25_TOPK):
    """BM25 retrieval scoring (Robertson et al., Okapi / the Lucene
    ln(1+...) idf variant) of a literal token query against the corpus,
    returning the top-k documents — the lexical half of every RAG
    retrieval stack beside the ANN keys.

    Exactness: tf, df, dl, N are exact int64; each (doc, term)
    contribution idf*saturation is ONE double expression over those
    ints, micro-quantized per term before the integer per-doc sum
    (fold-order rule). avgdl enters as exact milli-tokens.

    Scale shape: the per-term df table is query-sized (broadcast); the
    scan touches only rows containing a query token via the exploded
    (doc, term, tf) grain; the top-k is the window-free
    TakeOrdered+rank-by-aggregate of ops.scale.ranked_topk."""
    qlit = F.array([F.lit(x) for x in BM25_QUERY])
    toks = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("dl"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    nd = docs.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(F.size(tokens(F.col("text")))).alias("ntok"),
    ).select("nn", F.expr("(1000 * ntok) div nn").alias("avgdl_milli"))
    qt = toks.where(F.array_contains(qlit, F.col("tok")))
    tf = qt.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = qt.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    term = (
        tf.join(F.broadcast(df_t), "tok")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "dl",
            F.floor(
                F.log(
                    1.0
                    + (F.col("nn").cast("double") - F.col("df").cast("double") + 0.5)
                    / (F.col("df").cast("double") + 0.5)
                )
                * (
                    F.col("tf").cast("double")
                    * 2.2
                    / (
                        F.col("tf").cast("double")
                        + 1.2
                        * (
                            0.25
                            + 0.75
                            * (F.col("dl") * 1000).cast("double")
                            / F.col("avgdl_milli").cast("double")
                        )
                    )
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t_micro"),
        )
    )
    scores = term.groupBy("doc_id", "dl").agg(
        F.sum("t_micro").alias("score_micro")
    )
    return ranked_topk(
        scores.select("doc_id", "dl", "score_micro"),
        [("score_micro", "desc"), ("doc_id", "asc")],
        topk,
        rank_name="rnk",
    ).select("rnk", "doc_id", "dl", "score_micro")


BM25_QLIST = ", ".join(f"'{x}'" for x in BM25_QUERY)

BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS dl,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
),
nd AS (
  SELECT CAST(count(*) AS BIGINT) AS nn,
         (1000 * CAST(sum(len(list_filter(string_split(text, ' '),
                                          x -> x <> ''))) AS BIGINT))
             // CAST(count(*) AS BIGINT) AS avgdl_milli
  FROM documents
),
qt AS (SELECT * FROM toks WHERE tok IN ({BM25_QLIST})),
tf AS (
  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
  FROM qt GROUP BY 1, 2, 3
),
df_t AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM qt GROUP BY 1
),
term AS (
  SELECT doc_id, dl,
         CAST(floor(
           ln(1.0 + (CAST(nn AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
           * (CAST(tf AS DOUBLE) * 2.2
              / (CAST(tf AS DOUBLE)
                 + 1.2 * (0.25 + 0.75 * CAST(dl * 1000 AS DOUBLE)
                                 / CAST(avgdl_milli AS DOUBLE))))
           * 1000000 + 0.5) AS BIGINT) AS t_micro
  FROM tf JOIN df_t USING (tok), nd
),
scores AS (
  SELECT doc_id, dl, CAST(sum(t_micro) AS BIGINT) AS score_micro
  FROM term GROUP BY 1, 2
)
SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
            AS BIGINT) AS rnk,
       doc_id, dl, score_micro
FROM scores
ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_TOPK}
"""
