"""Deduplication operators (north-star extension): exact hash dedup,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):
- exact dedup: hash-groupBy — one shuffle on a 16-byte key, map-side
  partial aggregation; the only O(N) exact method.
- MinHash+LSH: per-row signature (narrow, codegen'd), explode to
  (band, key) rows, self-join on the band key. Candidate pairs are
  O(collisions), never O(N²); the final Jaccard verify touches only
  candidates. Banding parameters (b=8, r=4) put the S-curve threshold
  at ≈ (1/b)^(1/r) ≈ 0.59.
- SimHash: 32-bit signature per doc; near-dups share signatures or
  differ in ≤k bits — bucket by signature (or rotated prefixes) —
  again no pairwise pass.
- n-gram Jaccard: the exact (verification-grade) method — candidate
  generation via shared-shingle equi-join, so cost tracks shingle
  collision counts, not N².

All signature math is integer arithmetic on md5-derived 32-bit hashes —
bit-identical in any engine, which is what lets the DuckDB oracle verify
these exactly.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ops.scale import spread
from .text import token_hashes, tokens

# MinHash permutation constants: h_i(x) = (a_i * x + b_i) mod P.
# P prime > 2^32; a < 2^30 keeps a*h < 2^62 (no signed-64 overflow in
# either engine). Seeded for reproducibility; the oracle SQL embeds the
# same constants.
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4
MERSENNE_P = 4294967311
_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, 1 << 30) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, 1 << 30) for _ in range(MINHASH_K)]

SHINGLE_K = 3  # 3-word shingles

# A shingle shared by more than this many documents generates no
# candidate pairs in ngram_jaccard_pairs: one boilerplate shingle in D
# documents would otherwise emit D*(D-1)/2 candidates — quadratic blowup
# from a single hot key. Documented recall trade-off: a pair whose ONLY
# shared shingles are ubiquitous ones is missed, but such pairs sit far
# below any useful Jaccard threshold anyway (their intersection is
# boilerplate). The oracle SQL applies the identical cap.
NGRAM_MAX_DF = 100


def shingles(tok_col: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles; documents shorter than k words collapse
    to a single whole-text shingle (guards Spark's descending
    ``sequence(0, n-k)`` when n<k)."""
    idx = F.sequence(F.lit(0), F.size(tok_col) - k)
    make = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok_col, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(F.size(tok_col) >= k, F.array_distinct(make)).otherwise(
        F.array(F.array_join(tok_col, " "))
    )


def shingle_hashes(text_col: Column, k: int = SHINGLE_K) -> Column:
    return token_hashes(shingles(tokens(text_col), k))


def _perm(a: int, b: int):
    # closure factory: PySpark derives lambda arity from the signature,
    # so default-arg capture (lambda h, a=a) would mis-declare 3 args
    return lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE_P


def minhash_signature_array(hash_col: Column, n: int = MINHASH_K) -> Column:
    """The n-permutation signature as one array column with the (a, b)
    constants INLINED per permutation — constant-folded by codegen, no
    per-row literal-array allocation (an element_at-over-literal-array
    variant measured ~4× slower at sf0.1). Cold-compile cost of the wide
    expression is amortized by a warm-up run of the plan.

    ONE fold over the shingle array with an n-long running-min
    accumulator (same single-pass discipline as :func:`simhash`): the
    n× ``array_min(transform(...))`` form scanned every shingle array
    n times per row — 1.5× more signature-stage CPU at sf0.1 for
    bit-identical output (min of the same permutation values either
    way).

    Empty-input contract: an EMPTY ``hash_col`` returns the fold's
    init — an array of n MERSENNE_P sentinels (the old per-permutation
    form returned n NULLs). Every zero-shingle row would share that
    one sentinel signature and collide in every LSH band, so callers
    MUST drop zero-shingle rows before signing — :func:`with_minhash`
    does (``size(shd) > 0``)."""
    init = F.array(*[F.lit(MERSENNE_P).cast("long") for _ in range(n)])

    def merge(acc: Column, h: Column) -> Column:
        vals = F.array(
            *[
                (
                    (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % MERSENNE_P
                ).cast("long")
                for i in range(n)
            ]
        )
        return F.zip_with(acc, vals, lambda a, b: F.least(a, b))

    return F.aggregate(hash_col, init, merge)


def band_keys(n_bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> list[Column]:
    """Hash each band of the signature array into one bucket key."""
    keys = []
    for bi in range(n_bands):
        parts = [
            F.col("sig").getItem(bi * rows + j).cast("string") for j in range(rows)
        ]
        keys.append(F.md5(F.concat_ws("-", *parts)).alias(f"band{bi}"))
    return keys


def with_minhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id, distinct hashed shingle set (``shd``), signature array (``sig``).

    Jaccard verification downstream runs on the HASHED shingle set —
    long arrays shuffle ~10× lighter than the string shingles, and the
    oracle mirrors the same hashed-set Jaccard exactly.

    Zero-shingle rows are dropped before signing: signing them would
    give every such row the identical sentinel signature (see
    :func:`minhash_signature_array`) and mark every pair of empty docs
    as an LSH candidate. A zero-shingle set occurs EXACTLY when the
    text is null (``shingles`` folds any non-null text — even "" — to
    at least one shingle, and ``token_hash`` of a non-null shingle is
    never null), so the guard is a scan-level ``text IS NOT NULL``
    filter: pushable to parquet and free. Guarding on ``size(shd) > 0``
    instead measured 4.4× slower at sf0.1 — the filter between
    projections makes Catalyst evaluate the md5-per-shingle expression
    twice per row (once for the size check, once for the signature).
    """
    # Signature computation is CPU-heavy per row (md5 per shingle + k
    # permutations); a single small input file would otherwise pin it to
    # one task. Spread it across the cluster BEFORE the projection — at
    # real scale the scan already has many splits and AQE coalesces.
    sh = shingles(tokens(F.col(text_col)))
    out = (
        df.filter(F.col(text_col).isNotNull())
        .transform(spread, F.col(id_col))
        .select(F.col(id_col).alias("doc"), sh.alias("sh"))
    )
    out = out.withColumn("shd", F.array_distinct(token_hashes(F.col("sh")))).drop("sh")
    return out.withColumn("sig", minhash_signature_array(F.col("shd")))


def lsh_candidate_pairs(sig_df: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing ≥1 LSH band bucket.

    The band table is (doc, band_idx, key) rows; the self-equi-join on
    (band_idx, key) shuffles on the bucket key only — hot buckets are
    AQE-skew-split. Pair dedup happens BEFORE the expensive verify."""
    bands = sig_df.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band_idx"), F.col(f"band{i}").alias("key"))
                    for i in range(LSH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc", "b.band_idx", "b.key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return inter.cast("double") / (F.size(sh_a) + F.size(sh_b) - inter)


def near_dups_from_sig(sig_df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Banded candidates → exact hashed-set-Jaccard verify ≥ threshold,
    starting from a PRECOMPUTED signature table (doc, shd, sig) — e.g.
    the materialized shared stage
    (``registry_util.shared_minhash_signatures``). No persist: the
    expensive projection (md5-per-shingle + permutation fold) is
    already materialized upstream, and the per-consumer band-key md5s
    are cheap, so each consumer branch is a plain column-pruned scan.
    Returns (doc_a, doc_b, jaccard)."""
    banded = (
        sig_df
        if "band0" in sig_df.columns
        else sig_df.select("doc", "shd", *band_keys())
    )
    cands = lsh_candidate_pairs(banded)
    sh = banded.select("doc", "shd")
    j = (
        cands.join(
            sh.withColumnRenamed("doc", "doc_a").withColumnRenamed("shd", "sh_a"), "doc_a"
        )
        .join(
            sh.withColumnRenamed("doc", "doc_b").withColumnRenamed("shd", "sh_b"), "doc_b"
        )
        .withColumn("j", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return j.filter(F.col("j") >= threshold).select(
        "doc_a", "doc_b", (F.floor(F.col("j") * 10000 + 0.5) / 10000.0).alias("jaccard")
    )


def minhash_near_dups(
    docs: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates →
    exact hashed-set-Jaccard verify ≥ threshold. Returns
    (doc_a, doc_b, jaccard). The in-memory form persists the signature
    projection (three consumers); registered keys prefer
    :func:`near_dups_from_sig` over the materialized shared stage."""
    sig = with_minhash(docs, id_col, text_col)
    sig = sig.select("doc", "shd", *band_keys()).persist()
    return near_dups_from_sig(sig, threshold)


def minhash_estimate_vs_exact(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (fraction of the k=32 signature positions that
    agree — the unbiased estimator the banding scheme is built on)
    side by side with the EXACT hashed-shingle Jaccard, plus the
    absolute error. The QA query you run before trusting a
    signature-only dedup at 100 TB: if err4's distribution is wider
    than the k=32 binomial bound predicts, the permutation family is
    broken.

    Same bucketed shape as :func:`minhash_near_dups` — candidates come
    from the banded self-equi-join, never an all-pairs scan; the
    signature agreement is one zip_with fold over two 32-long arrays.

    Cache contract (ADVICE r4): the signature table is ``persist()``-ed
    because three branches consume it (the band join and both pair
    sides) and the result is returned LAZILY, so this function cannot
    unpersist it itself. In a long-lived session, repeated calls
    accumulate cached partitions until ``spark.catalog.clearCache()``
    (a benchmark should clear between queries); one-shot driver/oracle runs drop
    it with the session. Same contract as the other internal persists
    in this module and ``ops/graph.py``.
    """
    sig = with_minhash(docs, id_col, text_col)
    sig = sig.select("doc", "shd", "sig", *band_keys()).persist()
    return estimate_vs_exact_from_sig(sig)


def estimate_vs_exact_from_sig(sig_df: DataFrame) -> DataFrame:
    """:func:`minhash_estimate_vs_exact` from a precomputed signature
    table (doc, shd, sig) — e.g. the materialized shared stage. No
    persist needed: every consumer branch is a column-pruned scan of
    the already-materialized table."""
    sig = (
        sig_df
        if "band0" in sig_df.columns
        else sig_df.select("doc", "shd", "sig", *band_keys())
    )
    cands = lsh_candidate_pairs(sig)
    side = sig.select("doc", "shd", "sig")
    j = (
        cands.join(
            side.select(
                F.col("doc").alias("doc_a"),
                F.col("shd").alias("sh_a"),
                F.col("sig").alias("sig_a"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("doc").alias("doc_b"),
                F.col("shd").alias("sh_b"),
                F.col("sig").alias("sig_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_agree",
            F.size(
                F.filter(
                    F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                    lambda x: x,
                )
            ),
        )
        .withColumn("j", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    est = F.col("n_agree").cast("double") / MINHASH_K
    err = F.abs(est - F.col("j"))
    return j.select(
        "doc_a",
        "doc_b",
        (F.floor(est * 10000 + 0.5) / 10000.0).alias("est4"),
        (F.floor(F.col("j") * 10000 + 0.5) / 10000.0).alias("jacc4"),
        (F.floor(err * 10000 + 0.5) / 10000.0).alias("err4"),
    )


def candidate_pair_stats(sig_df: DataFrame) -> DataFrame:
    """Integer-grain stats for every banded LSH candidate pair —
    ``(doc_a, doc_b, n_inter, n_a, n_b, n_agree)`` — the table every
    banded-dedup consumer derives its numbers from:

    - exact hashed-shingle Jaccard  = n_inter / (n_a + n_b - n_inter)
    - MinHash signature estimate    = n_agree / k

    This is the build body of the MATERIALIZED shared stage
    (``registry_util.shared_minhash_cand_stats``): the candidate
    self-equi-join + both full-width shingle-array joins + the
    per-pair ``array_intersect`` are the expensive part of SEVEN
    dedup keys, and the result is tiny (pair grain, four ints) —
    the §27 shape: heavy shared CPU, strictly smaller stored grain.
    All columns are exact integers, so consumers reconstruct the
    identical IEEE doubles and every DuckDB oracle keeps recomputing
    relationally with unchanged hashes."""
    sig = (
        sig_df
        if "band0" in sig_df.columns
        else sig_df.select("doc", "shd", "sig", *band_keys())
    )
    cands = lsh_candidate_pairs(sig)
    side = sig.select("doc", "shd", "sig")
    j = cands.join(
        side.select(
            F.col("doc").alias("doc_a"),
            F.col("shd").alias("sh_a"),
            F.col("sig").alias("sig_a"),
        ),
        "doc_a",
    ).join(
        side.select(
            F.col("doc").alias("doc_b"),
            F.col("shd").alias("sh_b"),
            F.col("sig").alias("sig_b"),
        ),
        "doc_b",
    )
    return j.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
        F.size("sh_a").alias("n_a"),
        F.size("sh_b").alias("n_b"),
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                lambda x: x,
            )
        ).alias("n_agree"),
    )


def _jaccard_from_stats() -> Column:
    """Raw exact Jaccard from the integer pair stats — the same ints
    :func:`jaccard` divides, so the double is bit-identical."""
    return F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )


def near_dups_from_pair_stats(
    stats_df: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """:func:`near_dups_from_sig` from the precomputed candidate-stats
    stage: one column-pruned scan + a scalar filter — no band explode,
    no self-join, no shingle-array shuffle. (doc_a, doc_b, jaccard)."""
    j = stats_df.withColumn("j", _jaccard_from_stats())
    return j.filter(F.col("j") >= threshold).select(
        "doc_a",
        "doc_b",
        (F.floor(F.col("j") * 10000 + 0.5) / 10000.0).alias("jaccard"),
    )


def clusters_from_pair_stats(
    stats_df: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """:func:`clusters_from_sig` from the candidate-stats stage —
    threshold filter then connected components."""
    pairs = near_dups_from_pair_stats(stats_df, threshold)
    return connected_components(pairs.select("doc_a", "doc_b"))


def estimate_vs_exact_from_pair_stats(stats_df: DataFrame) -> DataFrame:
    """:func:`minhash_estimate_vs_exact` from the candidate-stats
    stage: est4/jacc4/err4 reconstructed from the exact integers."""
    est = F.col("n_agree").cast("double") / MINHASH_K
    j = _jaccard_from_stats()
    err = F.abs(est - j)
    return stats_df.select(
        "doc_a",
        "doc_b",
        (F.floor(est * 10000 + 0.5) / 10000.0).alias("est4"),
        (F.floor(j * 10000 + 0.5) / 10000.0).alias("jacc4"),
        (F.floor(err * 10000 + 0.5) / 10000.0).alias("err4"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Exact hashed-shingle-Jaccard near-dup pairs; candidates from a
    shared-shingle equi-join (no N² pass). Shingles travel as 64-bit
    hashes — the join key and the verify arrays shuffle ~10× lighter
    than raw shingle strings.

    Hot-shingle guard: shingles with document frequency > ``max_df`` are
    anti-joined out of the candidate-generation side (the hot set is tiny
    by definition — few shingles are ubiquitous — so it broadcasts). The
    Jaccard verify still runs on the FULL shingle sets, so scores are
    exact; only candidate *generation* loses the boilerplate keys."""
    # NOTE (r8): routing this operator through the materialized shared
    # shingle stage was tried and REVERTED — unlike the minhash keys
    # (whose signature fold dominates), this operator's cost is the
    # candidate self-join + array-Jaccard verify, and reading the sets
    # from parquet measured strictly slower than this in-memory persist
    # (2.2-7.2 s vs 1.8-3.5 s across its three consumers at sf0.1).
    sh_df = (
        spread(docs, F.col(id_col))
        .select(
            F.col(id_col).alias("doc"),
            F.array_distinct(token_hashes(shingles(tokens(F.col(text_col))))).alias("sh"),
        )
        .persist()
    )
    exploded_all = sh_df.select(
        "doc", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    hot = (
        exploded_all.groupBy("s")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .filter(F.col("sdf") > max_df)
        .select("s")
    )
    # the tiny hot set has TWO consumers now (anti-join build + the
    # |hot| scalar below); truncate so the corpus pass behind it runs
    # once — its size is bounded by definition (few shingles are
    # ubiquitous)
    hot = hot.localCheckpoint(eager=False)
    n_hot = hot.agg(F.count(F.lit(1)).alias("n_hot_total"))
    exploded = exploded_all.join(F.broadcast(hot), "s", "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    # Two-stage candidate prefilter (r12) — both stages are NECESSARY
    # conditions for ``j >= threshold``, so output rows are unchanged:
    #
    # 1. size ratio: J ≤ min(|A|,|B|)/max(|A|,|B|); rows whose ratio is
    #    under τ drop BEFORE the pair aggregation (j and the ratio are
    #    each one IEEE division of exact ints and rounding is monotonic,
    #    so double-j ≤ double-ratio — the filter only passes MORE).
    # 2. shared-count bound: the self-join yields one row per shared
    #    NON-HOT shingle, so counting them (replacing the old distinct
    #    — same shuffle, map-side combined) gives inter_nh with
    #    inter ≤ inter_nh + |hot|; J ≥ τ forces inter·(1+τ) ≥ τ·(nₐ+n_b),
    #    hence (inter_nh + |hot| + 1)·(1+τ) ≥ τ·(nₐ+n_b) — the +1 count
    #    of slack dwarfs any double rounding (< 1 count below ~1e14).
    #    Measured at sf0.1: 1,130,536 candidate pairs → 256 survivors,
    #    i.e. the shingle-array attach joins and the array_intersect
    #    verify (this family's dominant cost) run on ~0.02% of pairs.
    cands = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .filter(
            F.least(F.col("a.n"), F.col("b.n")).cast("double")
            / F.greatest(F.col("a.n"), F.col("b.n")).cast("double")
            >= F.lit(float(threshold))
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("a.n").alias("n_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_nh"))
        .join(F.broadcast(n_hot))
        .filter(
            (F.col("inter_nh") + F.col("n_hot_total") + 1).cast("double")
            * F.lit(1.0 + float(threshold))
            >= F.lit(float(threshold))
            * (F.col("n_a") + F.col("n_b")).cast("double")
        )
        .select("doc_a", "doc_b")
    )
    j = (
        cands.join(sh_df.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh_df.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("j", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return j.filter(F.col("j") >= threshold).select(
        "doc_a", "doc_b", (F.floor(F.col("j") * 10000 + 0.5) / 10000.0).alias("jaccard")
    )


SIMHASH_BITS = 32


def simhash(hash_col: Column, bits: int = SIMHASH_BITS) -> Column:
    """Per-doc SimHash: majority vote of each bit across distinct token
    hashes. Bit j set iff Σ(±1 per token) > 0.

    SINGLE fold over the token array with a ``bits``-long vote-count
    accumulator (zip_with inside one ``aggregate``): the original
    per-bit formulation ran ``bits`` separate folds — 32 scans of
    every token array per row — and measured 5× slower at sf0.1
    (6.1 s → 1.2 s signature pass) for bit-identical output.
    """
    init = F.array(*[F.lit(0).cast("long") for _ in range(bits)])

    def merge(acc: Column, h: Column) -> Column:
        votes = F.array(
            *[
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for j in range(bits)
            ]
        )
        return F.zip_with(acc, votes, lambda a, b: a + b)

    def fin(acc: Column) -> Column:
        out = F.lit(0).cast("long")
        for j in range(bits):
            out = out + F.when(
                acc[j] > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    return F.aggregate(hash_col, init, merge, fin)


def exact_dedup_groups(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5 content hash → group. One shuffle on the hash."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 20
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping: every node ends up labeled with the smallest node id in its
    component. The iterative piece of the dedup pipeline — near-dup
    PAIRS become dedup CLUSTERS (keep min id per cluster, drop rest).

    Each iteration does two label-table joins:
    1. propagate: label(v) <- min(label(v), min over neighbors' labels)
       — one shuffle over the edge table;
    2. shortcut (pointer jumping): label(v) <- label(label(v)) — one
       self-join of the |nodes|-sized label table. Shortcutting is what
       turns O(diameter) rounds into O(log diameter): a chain of length
       d converges in ~log2(d) rounds because labels hop through the
       already-compressed prefix. At 100 TB the edge-table join
       dominates, so halving-the-exponent on round COUNT is the lever
       that matters (the classic alternating-star result).

    Labels only decrease and are bounded by the component min, so the
    fixpoint is exact, not approximate. ``localCheckpoint`` truncates
    the growing lineage so round N doesn't replay rounds 1..N-1. The
    driver-side loop only reads a converged-or-not count per round — no
    data is collected.
    """
    # materialize the edge list once: it is joined every iteration, and
    # upstream it may be a whole LSH pipeline — without this each round
    # would recompute candidate generation from scratch
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        prop = labels.join(neighbor_min, labels.node == neighbor_min.a, "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
        )
        # pointer jumping: follow one more hop through the label table
        # (label(label(v))); labels are node ids, so the hop is a
        # self-join on the small label table, not the edge table
        hop = prop.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        # carry old+new through one checkpoint so the convergence check
        # is a filter on materialized data, not a second join
        step = (
            prop.join(hop, prop.label == hop.l_node, "left")
            .select(
                "node",
                "old_label",
                F.least(F.col("label"), F.coalesce("l_label", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        labels = step.select("node", "label")
        if step.filter(F.col("label") != F.col("old_label")).count() == 0:
            converged = True
            break
    if not converged:
        # even with shortcutting, pathological diameters can exhaust the
        # budget; silently returning split clusters would let downstream
        # dedup keep extra "canonical" docs with no signal anything broke
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (diameter of the near-dup graph exceeds it)"
        )
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster"))


def dedup_clusters(
    docs: DataFrame, id_col: str, text_col: str, threshold: float = 0.5
) -> DataFrame:
    """Near-dup clusters: MinHash-LSH pairs -> connected components ->
    (doc, cluster) for every clustered doc; singletons excluded (they
    are their own cluster trivially)."""
    pairs = minhash_near_dups(docs, id_col, text_col, threshold)
    return connected_components(pairs.select("doc_a", "doc_b"))


def clusters_from_sig(sig_df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """:func:`dedup_clusters` from a precomputed signature table — the
    materialized-shared-stage form the registered keys use."""
    pairs = near_dups_from_sig(sig_df, threshold)
    return connected_components(pairs.select("doc_a", "doc_b"))


def masked_variants(s: Column) -> Column:
    """All single-position masks of a string: position i replaced by
    '_', as an array of (pos, masked) structs. Two strings share a
    variant at position i iff they are equal everywhere else — the
    deletion-neighborhood blocking of SymSpell-style fuzzy matching,
    which finds every substitution-distance-1 pair with an equi-join
    (never an all-pairs distance scan)."""
    idx = F.sequence(F.lit(1), F.length(s))
    return F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.concat(
                F.substring(s, F.lit(1), i - 1),
                F.lit("_"),
                F.substring(s, i + 1, F.length(s)),
            ).alias("masked"),
        ),
    )


def fuzzy_name_pairs(df: DataFrame, key_col: str, name_col: str) -> DataFrame:
    """Entity-resolution candidate pairs at edit distance <= 1
    (substitutions): explode each name's masked variants, equi-join on
    (pos, masked), verify with levenshtein. Blocking bounds the join to
    names agreeing outside one position — O(collisions), scan-speed
    variant generation, no quadratic pass at any corpus size."""
    # two-step select: aliasing and consuming the name column in ONE
    # select makes Spark 4 resolve the explode's argument as a lateral
    # column alias when name_col is itself named "nm" (internal LCA
    # error with explode-of-transform); the intermediate projection
    # keeps the reference ordinary
    base = df.select(F.col(key_col).alias("k"), F.col(name_col).alias("nm"))
    v = base.select(
        "k", "nm", F.explode(masked_variants(F.col("nm"))).alias("mv")
    ).select("k", "nm", F.col("mv.pos").alias("pos"), F.col("mv.masked").alias("masked"))
    # NOTE (r12, measured): persisting ``v`` so both self-join sides
    # read one derivation of the variant explode A/B'd 0.99 (5 reps,
    # same sitting) — the cache write costs what the second derivation
    # costs, and at scale the variant table is fact×len-sized (a
    # memory-pressure liability, not a win). Left unpersisted; the §27
    # dominance bound in SCALING.md is the general rule.
    a, b = v.alias("a"), v.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.masked") == F.col("b.masked"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.col("a.nm").alias("name_a"),
            F.col("b.nm").alias("name_b"),
        )
        .distinct()
    )
    return pairs.withColumn("lev", F.levenshtein("name_a", "name_b"))


def edit_distance_pairs(
    df: DataFrame,
    name_col: str,
    block_col: Column,
    max_dist: int = 4,
) -> DataFrame:
    """Blocked edit-distance similarity join over DISTINCT names — the
    classic entity-resolution candidate step with a true string metric
    (Levenshtein), complementing :func:`fuzzy_name_pairs`'s
    masked-position blocking.

    The blocking expression bounds the candidate set: names pair only
    within a block (same last token, same phonetic key, same length
    band — caller's choice), so the quadratic term is per-block, never
    corpus-wide. The distinct-name projection collapses the fact-grain
    input to entity grain first; Levenshtein (a JVM built-in) runs only
    on surviving candidates.
    """
    names = df.select(
        F.col(name_col).alias("name"), block_col.alias("blk")
    ).distinct()
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def simhash_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-duplicate pairs from SimHash signatures WITHOUT an all-pairs
    pass: band the ``bits``-wide signature into ``max_hamming + 1``
    equal slices — by pigeonhole, any pair within ``max_hamming`` bit
    flips agrees EXACTLY on at least one slice — so candidates come
    from an equi-self-join on (band_idx, band_value) and only
    candidates pay the bit_count(xor) verify. The standard Manku/
    Jarvelin web-dedup blocking; at production bit widths (64-bit
    sigs, 16-bit bands) band-collision rates stay low at corpus scale.

    Output: doc_a, doc_b, hamming (<= max_hamming).
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col(sig_col), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bd"),
    ).select("_id", "_sh", "bd.band_idx", "bd.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a._sh").alias("sa"),
            F.col("b._sh").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


CONTAINMENT_THRESHOLD = 0.6


def containment_pairs(
    docs: DataFrame, id_col: str, text_col: str,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Shingle-CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) — the
    asymmetric cousin of Jaccard that catches a SMALL document living
    inside a much larger one (quotes, boilerplate inclusion, partial
    copies), where Jaccard stays low because the union is dominated by
    the big side. Same candidate machinery as
    :func:`ngram_jaccard_pairs` (shared-shingle equi-join, hot-shingle
    anti-join guard), different verify metric."""
    sh_df = (
        spread(docs, F.col(id_col))
        .select(
            F.col(id_col).alias("doc"),
            F.array_distinct(
                token_hashes(shingles(tokens(F.col(text_col))))
            ).alias("sh"),
        )
        .persist()
    )
    exploded_all = sh_df.select(
        "doc", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    hot = (
        exploded_all.groupBy("s")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .filter(F.col("sdf") > max_df)
        .select("s")
    )
    # two consumers (anti-join build + the |hot| scalar); bounded set
    hot = hot.localCheckpoint(eager=False)
    n_hot = hot.agg(F.count(F.lit(1)).alias("n_hot_total"))
    exploded = exploded_all.join(F.broadcast(hot), "s", "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    # Shared-count prefilter (r12), the ngram_jaccard_pairs stage-2
    # bound adapted to containment: inter ≤ inter_nh + |hot| and
    # C ≥ τ forces inter ≥ τ·min(|A|,|B|), so a pair with
    # (inter_nh + |hot| + 1) < τ·min can NEVER pass the final filter —
    # a necessary condition, output rows unchanged (+1 slack covers
    # double rounding; no size-RATIO condition exists for containment,
    # which is why stage 1 of the Jaccard prefilter is absent here).
    cands = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("a.n").alias("n_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_nh"))
        .join(F.broadcast(n_hot))
        .filter(
            (F.col("inter_nh") + F.col("n_hot_total") + 1).cast("double")
            >= F.lit(float(threshold))
            * F.least(F.col("n_a"), F.col("n_b")).cast("double")
        )
        .select("doc_a", "doc_b")
    )
    j = (
        cands.join(
            sh_df.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh_df.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn(
            "cont",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.least(F.size("sh_a"), F.size("sh_b")).cast("double"),
        )
    )
    return j.filter(F.col("cont") >= threshold).select(
        "doc_a",
        "doc_b",
        (F.floor(F.col("cont") * 10000 + 0.5) / 10000.0).alias("cont4"),
    )
