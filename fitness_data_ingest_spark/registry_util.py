"""Shared plumbing for the driver-facing query registry."""

from __future__ import annotations

import os
import threading as _threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    tags: tuple[str, ...] = field(default=())


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


def spread(df: DataFrame, *cols) -> DataFrame:
    """Repartition ``df`` to one partition per default-parallelism slot
    (hashed on ``cols``, round-robin without them) so CPU-heavy per-row
    work after it runs on every core even when the scan arrives in few
    splits. The explicit count keeps AQE from coalescing the tiny
    shuffle back to one partition. ``plans.normalize_plan`` masks this
    width, so plan fingerprints do not depend on the core count."""
    return df.repartition(max(df.sparkSession.sparkContext.defaultParallelism, 1), *cols)


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
        from .ext import dedup as D

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
        from .ext import dedup as D

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
        from .ext import dedup as D

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
        from .ext.text import doc_char_trigram_counts

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
        from .ext.similarity import sq8_codes

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
        from .ops import graph as G

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
