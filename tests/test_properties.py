"""Property-style checks (SURVEY.md §5): algebraic invariants that must
hold for ANY input, exercised with hypothesis-generated small frames.

One shared Spark session; examples kept small (≤30 rows) and example
counts low — each property runs a handful of real Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fitness_data_ingest_spark.ops import scale as SK
from fitness_data_ingest_spark.ops.relational import (
    exists_semi_join,
    incremental_anti_join,
    union_all,
)

KEYS = st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=30)

PROP_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _kdf(spark, keys, col="k"):
    return spark.createDataFrame([(int(k),) for k in keys], f"{col} long")


@given(work=KEYS, manifest=KEYS)
@PROP_SETTINGS
def test_anti_semi_partition_work_set(spark, work, manifest):
    """anti(W, M) ⊎ semi(W, M) == W, row-for-row (multiplicity kept)."""
    w = _kdf(spark, work)
    m = _kdf(spark, set(manifest)).withColumnRenamed("k", "mk")
    on = F.col("k") == F.col("mk")
    anti = incremental_anti_join(w, m, on)
    semi = exists_semi_join(w, m, on)
    rebuilt = sorted(r["k"] for r in anti.collect()) + sorted(
        r["k"] for r in semi.collect()
    )
    assert sorted(rebuilt) == sorted(work)


@given(parts=st.lists(KEYS, min_size=1, max_size=4))
@PROP_SETTINGS
def test_union_all_counts_add(spark, parts):
    dfs = [_kdf(spark, p) for p in parts]
    assert union_all(dfs).count() == sum(len(p) for p in parts)


@given(big=KEYS, small=st.sets(st.integers(min_value=0, max_value=20), max_size=10))
@PROP_SETTINGS
def test_salted_join_equals_plain_join(spark, big, small):
    b = _kdf(spark, big)
    s = _kdf(spark, small, col="sk").withColumn("tag", F.col("sk") * 10)
    plain = b.join(s, b.k == s.sk).select("k", "tag")
    salted = SK.salted_join(b, s, "k", "sk", salt_n=4).select("k", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


@given(keys=KEYS)
@PROP_SETTINGS
def test_exact_dedup_group_sizes_sum_to_input(spark, keys):
    from fitness_data_ingest_spark.ext.dedup import exact_dedup_groups

    docs = spark.createDataFrame(
        [(i, f"text-{k}") for i, k in enumerate(keys)], "doc_id long, text string"
    )
    groups = exact_dedup_groups(docs, "doc_id", "text")
    rows = groups.collect()
    assert sum(r["n_copies"] for r in rows) == len(keys)
    assert len(rows) == len({f"text-{k}" for k in keys})


def test_identical_docs_minhash_jaccard_one(spark):
    """Two identical documents must surface as a pair with jaccard 1.0."""
    from fitness_data_ingest_spark.ext.dedup import minhash_near_dups

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    pairs = minhash_near_dups(docs, "doc_id", "text", threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"], pairs[0]["jaccard"]) == (1, 2, 1.0)


def test_curation_funnel_counts_are_monotone(spark, sf_dir):
    """Stage flags cascade, so per-source survivor counts must be
    monotone non-increasing along the funnel, and the doc totals must
    conserve the corpus size."""
    from fitness_data_ingest_spark.ext.corpus import curation_funnel
    from fitness_data_ingest_spark.registry_util import t

    docs = t(spark, sf_dir, "documents")
    rows = curation_funnel(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert (
            r["n_docs"] >= r["n_quality"] >= r["n_lang"]
            >= r["n_canonical"] >= r["n_kept"] >= 0
        ), r


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=1, max_value=50),
            st.integers(min_value=-10000, max_value=10000),
        ),
        min_size=2,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_linear_fit_corr_bounded_and_exact_on_lines(spark, pts):
    """Pearson r must lie in [-1, 1]; for points ON the line y = 2x the
    fit must recover slope 2, intercept 0, r = 1 exactly (the integer
    moments make this bit-exact, no tolerance needed)."""
    from fitness_data_ingest_spark.ext.corpus import linear_fit

    df = spark.createDataFrame(
        [(g, x, y) for g, x, y in pts], "g int, x long, y long"
    )
    fit = linear_fit(df, "g", F.col("x"), F.col("y") * 100)
    for r in fit.collect():
        if r["corr6"] is not None:
            assert -1.0 <= r["corr6"] <= 1.0, r
    on_line = spark.createDataFrame(
        [(0, x, 2 * x) for x in range(1, 8)], "g int, x long, y long"
    )
    exact = linear_fit(on_line, "g", F.col("x"), F.col("y") * 100).collect()[0]
    assert (exact["slope6"], exact["intercept6"], exact["corr6"]) == (2.0, 0.0, 1.0)


def test_retention_cohort_week_zero_matches_cohort_size(spark, sf_dir):
    """Every user is active in their own cohort week, so the
    weeks_since=0 cell must count every user of that cohort, and no
    offset may be negative or exceed the cohort-0 population."""
    from fitness_data_ingest_spark.ext.corpus import retention_cohort
    from fitness_data_ingest_spark.registry_util import t

    events = t(spark, sf_dir, "events")
    rows = retention_cohort(events).collect()
    assert all(r["weeks_since"] >= 0 for r in rows)
    base = {r["cohort_wk"]: r["n_active"] for r in rows if r["weeks_since"] == 0}
    n_users = events.select("user_id").distinct().count()
    assert sum(base.values()) == n_users
    for r in rows:
        assert r["n_active"] <= base[r["cohort_wk"]], r


def test_fuzzy_pairs_finds_planted_near_name(spark):
    """A planted single-substitution variant must pair with its
    original; an unrelated name must not pair with anything."""
    from fitness_data_ingest_spark.ext.dedup import fuzzy_name_pairs

    df = spark.createDataFrame(
        [(1, "customer#42"), (2, "customer#43"), (3, "zzzzzzzz")],
        "k long, nm string",
    )
    pairs = fuzzy_name_pairs(df, "k", "nm").collect()
    assert [(p["key_a"], p["key_b"], p["lev"]) for p in pairs] == [(1, 2, 1)]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=30,
    ),
    split=st.integers(min_value=-50, max_value=50),
)
@PROP_SETTINGS
def test_merge_agg_states_split_invariance(spark, rows, split):
    """agg(A ∪ B) == merge(agg(A), agg(B)) for ANY split point — the
    algebraic property incremental maintenance rests on."""
    from fitness_data_ingest_spark.ops.incremental import merge_agg_states

    df = spark.createDataFrame([(k, int(v)) for k, v in rows], "k long, v long")

    def state(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )

    merged = merge_agg_states(
        state(df.filter(F.col("v") < split)),
        state(df.filter(F.col("v") >= split)),
        keys=["k"],
        measures={"n": "count", "s": "sum", "lo": "min", "hi": "max"},
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, state(df).collect())
    )


@given(
    n=st.integers(min_value=1, max_value=25),
    k=st.integers(min_value=1, max_value=10),
)
@PROP_SETTINGS
def test_ranked_topk_matches_sorted_prefix(spark, n, k):
    """ranked_topk == the first k rows of the total order, ranks 1..k
    contiguous, for any input size (including k > |df|)."""
    rows = [(int(i), int((i * 13) % 7)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = SK.ranked_topk(df, [("v", "desc"), ("id", "asc")], k).collect()
    expected = sorted(rows, key=lambda r: (-r[1], r[0]))[:k]
    assert sorted((r.rnk, r.id, r.v) for r in got) == [
        (i + 1, rid, rv) for i, (rid, rv) in enumerate(expected)
    ]


@given(
    weights=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=25),
    target=st.integers(min_value=1, max_value=600),
)
@PROP_SETTINGS
def test_compaction_plan_weight_conservation_and_monotone_bins(
    spark, weights, target
):
    """Bins are contiguous and monotone in scan order, every unit is
    assigned exactly once, and a new bin only opens once the running
    weight crosses a target boundary."""
    from fitness_data_ingest_spark.io import compaction_plan

    rows = [("g", f"u{idx:03d}", int(w)) for idx, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "grp string, unit string, w long")
    got = {
        r.unit: r.bin
        for r in compaction_plan(df, "grp", "unit", "w", target=target).collect()
    }
    assert len(got) == len(rows)
    cum = 0
    for idx, w in enumerate(weights):
        assert got[f"u{idx:03d}"] == cum // target
        cum += w


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@PROP_SETTINGS
def test_zorder_key_is_bijective_and_matches_reference(spark, pts):
    """The Morton key must equal the reference interleave bit-for-bit
    and be a bijection on the [0, 2^bits)² grid — any collision or
    off-by-one bit silently destroys the clustering guarantee."""
    from fitness_data_ingest_spark.io import zorder_key

    def ref_morton(x, y, bits=4):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame([(x, y) for x, y in pts], "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), bits=4).alias("z")
        ).collect()
    }
    expected = {(x, y): ref_morton(x, y) for x, y in pts}
    assert got == expected
    assert len(set(got.values())) == len(pts)  # injective on unique points


def test_zorder_key_int32_inputs_bits16_no_sign_extension(spark):
    """With 32-bit INT inputs and bits=16, y's bit 15 lands at position
    31 — the int sign bit.  The shift loop must run in 64-bit or the
    sign extension corrupts the high 32 bits of the Morton key
    (latent round-2 bug: registered query used bits=8, tests used
    long columns)."""
    from fitness_data_ingest_spark.io import zorder_key

    def ref_morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 32768), (32768, 32768), (65535, 65535), (1, 65535)]
    df = spark.createDataFrame(pts, "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_key(F.col("x"), F.col("y"), bits=16).alias("z")
        ).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == ref_morton(x, y), (x, y, got[(x, y)])
        assert got[(x, y)] >= 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # value
            st.integers(min_value=0, max_value=3),  # group
        ),
        min_size=1,
        max_size=40,
    )
)
@PROP_SETTINGS
def test_distributed_rank_equals_row_number_random(spark, rows):
    """Range-partitioned global ranking == row_number() for arbitrary
    values incl. heavy duplicates, for any bucket assignment that is
    monotone in the order key."""
    df = spark.createDataFrame(
        [(i, int(v)) for i, (v, _) in enumerate(rows)], "rid long, v long"
    )
    lo = min(v for v, _ in rows)
    hi = max(v for v, _ in rows)
    width = (hi - lo) // 8 + 1
    staged = df.withColumn(
        "bkt", ((F.col("v") - lo) / width).cast("int")
    )
    ranked = SK.distributed_rank(
        staged, [("v", "asc"), ("rid", "asc")], "bkt", n_buckets=8
    )
    got = {r["rid"]: r["rnk"] for r in ranked.collect()}
    want = {
        rid: i + 1
        for i, (rid, _) in enumerate(
            sorted(((i, int(v)) for i, (v, _) in enumerate(rows)), key=lambda x: (x[1], x[0]))
        )
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # group
            st.integers(min_value=0, max_value=50),  # order key
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=5),
    salt_n=st.integers(min_value=1, max_value=7),
)
@PROP_SETTINGS
def test_grouped_topk_random(spark, rows, k, salt_n):
    """Salted two-level per-group top-k == per-group sorted prefix for
    random groups/orders/salts (rid tiebreak makes the order total)."""
    df = spark.createDataFrame(
        [(i, int(g), int(o)) for i, (g, o) in enumerate(rows)],
        "rid long, g long, o long",
    )
    got = sorted(
        (r["g"], r["o"], r["rid"])
        for r in SK.grouped_topk(
            df, "g", [("o", "asc"), ("rid", "asc")], k, salt_n=salt_n
        ).collect()
    )
    import collections

    per = collections.defaultdict(list)
    for i, (g, o) in enumerate(rows):
        per[g].append((o, i))
    want = sorted(
        (g, o, rid)
        for g, lst in per.items()
        for o, rid in sorted(lst)[:k]
    )
    assert got == want


@given(
    gaps=st.lists(st.integers(min_value=1, max_value=4000), min_size=1, max_size=25),
    gap_s=st.sampled_from([600, 1800]),
)
@PROP_SETTINGS
def test_sessionize_break_count_random(spark, gaps, gap_s):
    """Session count == 1 + number of inter-event gaps > gap_s, for an
    arbitrary single-user gap sequence."""
    import datetime

    from fitness_data_ingest_spark.ops import timeseries as TS

    base = datetime.datetime(2024, 1, 1)
    ts_list, acc = [], 0
    for g in gaps:
        acc += g
        ts_list.append(base + datetime.timedelta(seconds=acc))
    df = spark.createDataFrame(
        [(i, t_, 1, 1.0) for i, t_ in enumerate(ts_list)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    n_sessions = TS.sessionize(df, gap_s=gap_s).count()
    want = 1 + sum(1 for g in gaps[1:] if g > gap_s)
    assert n_sessions == want


# ---------------------------------------------------------------- round 5


def _md5_32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


TEXTS = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=2,
    max_size=12,
)


@given(texts=TEXTS)
@PROP_SETTINGS
def test_span_dedup_matches_bruteforce(spark, texts):
    """dedup_span_ngrams == the direct Python restatement: a span is
    duplicated iff its 5-token fingerprint occurs in >= 2 DISTINCT
    docs; covered = |union of [start, start+W) over duplicated spans|."""
    from fitness_data_ingest_spark.registry_util import SPAN_W
    from fitness_data_ingest_spark.registry_similarity import span_dedup_stats

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["dup_spans"], r["covered_tokens"])
        for r in span_dedup_stats(docs).collect()
    }

    toks = {i: [w for w in txt.split(" ") if w] for i, txt in enumerate(texts)}
    spans = {
        i: [
            _md5_32(" ".join(tk[s : s + SPAN_W]))
            for s in range(len(tk) - SPAN_W + 1)
        ]
        for i, tk in toks.items()
        if len(tk) >= SPAN_W
    }
    owners: dict[int, set[int]] = {}
    for i, hs in spans.items():
        for h in hs:
            owners.setdefault(h, set()).add(i)
    want = {}
    for i, hs in spans.items():
        dup_pos = [s for s, h in enumerate(hs) if len(owners[h]) >= 2]
        if not dup_pos:
            continue
        covered = set()
        for s in dup_pos:
            covered.update(range(s, s + SPAN_W))
        want[i] = (len(toks[i]), len(hs), len(dup_pos), len(covered))
    assert got == want


@given(
    texts=TEXTS,
    tgt_mask=st.lists(st.booleans(), min_size=2, max_size=12),
)
@PROP_SETTINGS
def test_dsir_weights_match_bruteforce(spark, texts, tgt_mask):
    """dsir_weights == the direct Python restatement of hashed-DSIR:
    bucket = md5_32(feat) % B over unigrams+bigrams (multiplicity
    kept), weight = sum over buckets of cnt * ((p_b+1)*SCALE //
    (q_b+1))."""
    from fitness_data_ingest_spark.registry_text import (
        DSIR_BUCKETS,
        DSIR_SCALE,
        dsir_weights,
    )

    mask = (tgt_mask * len(texts))[: len(texts)]
    docs = spark.createDataFrame(
        [(i, txt, "en" if m else "xx") for i, (txt, m) in enumerate(zip(texts, mask))],
        "doc_id long, text string, lang string",
    )
    got = [
        (r["doc_id"], r["weight"], r["n_feats"])
        for r in dsir_weights(docs).collect()
    ]

    def feats(txt):
        tk = [w for w in txt.split(" ") if w]
        return tk + [" ".join(p) for p in zip(tk, tk[1:])]

    per_doc: dict[tuple[int, int], int] = {}
    p = [0] * DSIR_BUCKETS
    q = [0] * DSIR_BUCKETS
    for i, (txt, m) in enumerate(zip(texts, mask)):
        for f in feats(txt):
            b = _md5_32(f) % DSIR_BUCKETS
            (p if m else q)[b] += 1
            if not m:
                per_doc[(i, b)] = per_doc.get((i, b), 0) + 1
    wt = [(p[b] + 1) * DSIR_SCALE // (q[b] + 1) for b in range(DSIR_BUCKETS)]
    agg: dict[int, list[int]] = {}
    for (i, b), c in per_doc.items():
        a = agg.setdefault(i, [0, 0])
        a[0] += c * wt[b]
        a[1] += c
    want = sorted(
        ((i, w, n) for i, (w, n) in agg.items()),
        key=lambda r: (-r[1], r[0]),
    )[:50]
    assert got == want


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # label
            st.lists(
                st.integers(min_value=-3, max_value=3), min_size=4, max_size=4
            ),
        ),
        min_size=2,
        max_size=14,
    )
)
@PROP_SETTINGS
def test_semdedup_matches_bruteforce(spark, vecs):
    """semdedup_profile == the direct Python restatement on small
    integer vectors (integer dot products are exact in double, and
    sqrt/division are IEEE-identical across runtimes, so assignment
    and threshold decisions cannot straddle an ulp)."""
    import math

    from fitness_data_ingest_spark.ext.similarity import (
        SEMDEDUP_TAU,
        semdedup_profile,
    )

    docs = spark.createDataFrame(
        [(i, [float(x) for x in v], lbl) for i, (lbl, v) in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["cluster"]: (
            r["n_members"], r["best_a"], r["best_b"], r["best_cos4"], r["n_drop"]
        )
        for r in semdedup_profile(docs).collect()
    }

    live = [
        (i, lbl, v)
        for i, (lbl, v) in enumerate(vecs)
        if any(x != 0 for x in v)
    ]
    if not live:
        assert got == {}
        return
    nrm = {i: math.sqrt(sum(x * x for x in v)) for i, _, v in live}

    def cos(va, vb, na, nb):
        return sum(x * y for x, y in zip(va, vb)) / (na * nb)

    seeds = {}
    for i, lbl, v in live:
        if lbl not in seeds or i < seeds[lbl]:
            seeds[lbl] = i
    seed_vec = {lbl: dict((j, v) for j, _, v in live)[sid] for lbl, sid in seeds.items()}
    assign = {}
    for i, _, v in live:
        best = max(
            (cos(v, seed_vec[lbl], nrm[i], nrm[seeds[lbl]]), -lbl)
            for lbl in seeds
        )
        assign[i] = -best[1]
    want = {}
    for c in sorted(set(assign.values())):
        members = sorted(i for i, cl in assign.items() if cl == c)
        if len(members) < 2:
            continue
        vbyid = {j: v for j, _, v in live}
        pairs = [
            (cos(vbyid[a], vbyid[b], nrm[a], nrm[b]), a, b)
            for ai, a in enumerate(members)
            for b in members[ai + 1 :]
        ]
        bc, ba, bb = max((c0, -a, -b) for c0, a, b in pairs)
        dropped = {b for c0, a, b in pairs if c0 >= SEMDEDUP_TAU}
        want[c] = (
            len(members), -ba, -bb,
            math.floor(bc * 10000 + 0.5) / 10000.0, len(dropped),
        )
    # singleton clusters have no pair row; Spark's inner join drops them
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(
                st.sampled_from(["a", "b", "c", "dd"]), min_size=0, max_size=12
            ).map(" ".join),
        ),
        min_size=2,
        max_size=12,
    )
)
@PROP_SETTINGS
def test_source_overlap_matches_bruteforce(spark, rows):
    """corpus_source_overlap == the direct Python restatement: per
    source the DISTINCT 5-token fingerprint set, pair counts are set
    intersections, jaccard from the union."""
    from fitness_data_ingest_spark.registry_util import SPAN_W
    from fitness_data_ingest_spark.registry_text import source_overlap

    docs = spark.createDataFrame(
        [(i, txt, src) for i, (src, txt) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    got = {
        (r["src_a"], r["src_b"]): (r["n_a"], r["n_b"], r["n_shared"], r["jaccard4"])
        for r in source_overlap(docs).collect()
    }

    import math

    sets: dict[str, set[int]] = {}
    for src, txt in rows:
        tk = [w for w in txt.split(" ") if w]
        for s in range(len(tk) - SPAN_W + 1):
            sets.setdefault(src, set()).add(_md5_32(" ".join(tk[s : s + SPAN_W])))
    srcs = sorted(sets)
    want = {}
    for ai, sa in enumerate(srcs):
        for sb in srcs[ai + 1 :]:
            shared = len(sets[sa] & sets[sb])
            if shared:
                j = shared / (len(sets[sa]) + len(sets[sb]) - shared)
                want[(sa, sb)] = (
                    len(sets[sa]), len(sets[sb]), shared,
                    math.floor(j * 10000 + 0.5) / 10000.0,
                )
    assert got == want


# ------------------------------------------------- round-5b operators


@given(counts=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=20))
@PROP_SETTINGS
def test_countmin_estimate_dominates_exact(spark, counts):
    """Count-min guarantee on ANY input: est >= exact for every key, and
    the estimate equals the brute-force d×w sketch replay (deterministic
    md5 row hashes make the sketch itself exactly reproducible)."""
    from fitness_data_ingest_spark.registry_relational import (
        CM_ROWS,
        CM_WIDTH,
        countmin_heavy,
    )

    rows = [(u,) for u, c in enumerate(counts) for _ in range(c)]
    events = spark.createDataFrame(rows, "user_id long")
    got = {
        r["user_id"]: (r["exact_cnt"], r["est_cnt"], r["overestimate"])
        for r in countmin_heavy(events, topk=len(counts)).collect()
    }

    exact = {u: c for u, c in enumerate(counts)}
    cells: dict[tuple[int, int], int] = {}
    for u, c in exact.items():
        for r in range(CM_ROWS):
            b = _md5_32(f"cm{r}:{u}") % CM_WIDTH
            cells[(r, b)] = cells.get((r, b), 0) + c
    want = {
        u: (
            c,
            min(cells[(r, _md5_32(f"cm{r}:{u}") % CM_WIDTH)] for r in range(CM_ROWS)),
        )
        for u, c in exact.items()
    }
    assert got == {u: (c, e, e - c) for u, (c, e) in want.items()}
    assert all(e >= c for c, e, _ in got.values())


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3 * 3600 - 1),  # second offset
            st.integers(min_value=-500, max_value=500),  # cents
            st.sampled_from(["a", "b"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@PROP_SETTINGS
def test_ohlc_bars_match_bruteforce(spark, rows):
    """OHLC via struct extrema == the sort-based Python restatement for
    any tie pattern (duplicate timestamps resolved by event_id)."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_events import ohlc_bars

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, base + dt.timedelta(seconds=sec), typ, c / 100.0)
        for i, (sec, c, typ) in enumerate(rows)
    ]
    events = spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {
        (r["event_type"], r["bar_hour"]): (
            r["n_events"], r["open2"], r["high2"], r["low2"], r["close2"]
        )
        for r in ohlc_bars(events).collect()
    }

    bars: dict[tuple, list] = {}
    for eid, ts, typ, v in data:
        c = int((v * 100 + 0.5) // 1) if v >= 0 else int(__import__("math").floor(v * 100 + 0.5))
        bars.setdefault((typ, ts.replace(minute=0, second=0, microsecond=0)), []).append(
            (ts, eid, c)
        )
    want = {}
    for key, evs in bars.items():
        evs.sort()
        cs = [c for _, _, c in evs]
        want[key] = (
            len(evs), evs[0][2] / 100.0, max(cs) / 100.0, min(cs) / 100.0,
            evs[-1][2] / 100.0,
        )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user
            st.integers(min_value=0, max_value=99),  # day offset (spans months)
        ),
        min_size=1,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_cumulative_distinct_matches_bruteforce(spark, rows):
    """Hierarchical prefix sum == count(distinct users seen so far) for
    any arrival pattern, including month-boundary crossings."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_events import cumulative_distinct_users

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(days=d)) for i, (u, d) in enumerate(rows)
    ]
    events = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["day"].isoformat(): (r["new_users"], r["cum_users"])
        for r in cumulative_distinct_users(events).collect()
    }

    first = {}
    for _, u, ts in data:
        d = ts.date()
        if u not in first or d < first[u]:
            first[u] = d
    days = sorted(set(first.values()))
    cum, want = 0, {}
    for d in days:
        new = sum(1 for v in first.values() if v == d)
        cum += new
        want[d.isoformat()] = (new, cum)
    assert got == want
    assert max(c for _, c in got.values()) == len(first)


@given(ids=st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=30))
@PROP_SETTINGS
def test_hash_sample_is_deterministic_partition(spark, ids):
    """The hash-Bernoulli sample is a PARTITION of the input decided
    per-row by md5 — n_sampled matches the brute-force predicate count
    exactly, for any id set (no RNG, no order dependence)."""
    from fitness_data_ingest_spark.registry_stats import SAMPLE_MOD, hash_sample_audit

    docs = spark.createDataFrame(
        [(i, "w x y z", "s") for i in ids], "doc_id long, text string, source string"
    )
    [r] = hash_sample_audit(docs).collect()
    want = sum(1 for i in ids if _md5_32(f"smp:{i}") % SAMPLE_MOD == 0)
    assert (r["n_docs"], r["n_sampled"]) == (len(ids), want)
    assert r["sampled_tokens"] == want * 4


@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=8), st.integers(min_value=0, max_value=8)
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    ),
    cap=st.integers(min_value=1, max_value=8),
)
@PROP_SETTINGS
def test_link_predict_matches_bruteforce(spark, edges, cap):
    """Common-neighbor link prediction == the adjacency-set Python
    restatement for any graph and any hub cap: candidates are exactly
    the non-adjacent pairs sharing >= 1 capped-degree neighbor."""
    from fitness_data_ingest_spark.registry_graph import link_predict

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        (r["a"], r["b"]): (r["common_neighbors"], r["deg_a"], r["deg_b"])
        for r in link_predict(df, topk=1000, hub_cap=cap).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)
    want = {}
    for mid, nbrs in adj.items():
        if len(nbrs) > cap:
            continue
        for a in nbrs:
            for b in nbrs:
                if a < b:
                    want[(a, b)] = want.get((a, b), 0) + 1
    want = {
        (a, b): (cn, len(adj[a]), len(adj[b]))
        for (a, b), cn in want.items()
        if b not in adj[a]
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # order key
            st.integers(min_value=0, max_value=400),  # day offset
        ),
        min_size=1,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_zonemap_range_layout_never_overlaps(spark, rows):
    """Value-bucketed (range) files partition the date domain, so their
    zone maps can never overlap — for ANY input; hash files conserve
    rows; every row lands in exactly one file per layout."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_warehouse import zonemap_overlap

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, base + dt.timedelta(days=d)) for k, d in rows],
        "l_orderkey long, l_shipdate timestamp",
    )
    out = zonemap_overlap(df).collect()
    for r in out:
        assert r["min_date"] <= r["max_date"]
        if r["layout"] == "range":
            assert r["n_overlaps"] == 0, out
    for layout in ("hash", "range"):
        assert sum(r["n_rows"] for r in out if r["layout"] == layout) == len(rows)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["the", "and", "zq", "!!", "a"]), min_size=1, max_size=20
        ).map(" ".join),
        min_size=1,
        max_size=15,
    )
)
@PROP_SETTINGS
def test_quality_sweep_monotone_and_conserving(spark, texts):
    """Retention is non-increasing in the threshold, the doc total is
    conserved at every threshold, and token retention is bounded by the
    corpus token total — for any corpus."""
    from fitness_data_ingest_spark.registry_text import QS_THRESHOLDS, quality_sweep

    docs = spark.createDataFrame(
        [(i, s, "src") for i, s in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    out = sorted(quality_sweep(docs).collect(), key=lambda r: r["thr"])
    assert [r["thr"] for r in out] == list(QS_THRESHOLDS)
    total_toks = sum(len([w for w in s.split() if w]) for s in texts)
    prev_d, prev_t = len(texts) + 1, total_toks + 1
    for r in out:
        assert 0 <= r["n_docs"] <= len(texts)
        assert 0 <= r["n_tokens"] <= total_toks
        assert r["n_docs"] <= prev_d and r["n_tokens"] <= prev_t
        prev_d, prev_t = r["n_docs"], r["n_tokens"]


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    seed=st.integers(min_value=0, max_value=2**31),
)
@PROP_SETTINGS
def test_ahash_bands_match_bruteforce_and_png_roundtrip(spark, w, h, seed):
    """image_ahash_bands == the numpy-free Python replay for any image
    geometry, and the PNG encoding of the SAME pixels hashes to the
    SAME bands (the encode->decode loop is pixel-exact)."""
    from fitness_data_ingest_spark.ext.multimodal import (
        encode_png,
        encode_ppm_p6,
        image_ahash_bands,
    )

    rng = seed
    px = bytearray()
    for _ in range(w * h * 3):
        rng = (rng * 6364136223846793005 + 1) % (2**63)
        px.append((rng >> 33) % 256)
    px = bytes(px)
    media = spark.createDataFrame(
        [(0, encode_ppm_p6(w, h, px)), (1, encode_png(w, h, px))],
        "media_id long, payload binary",
    )
    got = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in image_ahash_bands(media).collect()
    }

    ys = [(cy * h) // 8 for cy in range(8)]
    xs = [(cx * w) // 8 for cx in range(8)]
    gray = [
        sum(px[3 * (y * w + x) + c] for c in range(3)) // 3
        for y in ys
        for x in xs
    ]
    mean = sum(gray) // 64
    bits = [1 if g > mean else 0 for g in gray]
    want = tuple(
        sum(bits[16 * i + j] << j for j in range(16)) for i in range(4)
    )
    assert got[0] == want
    assert got[1] == want  # PNG round-trip pixel-exact


def test_image_dedup_flags_identical_images(spark):
    """Two byte-identical images must be mutual near-duplicates
    (Hamming 0 -> banded candidates -> n_dups >= 1 on both)."""
    from fitness_data_ingest_spark.ext.multimodal import (
        encode_ppm_p6,
        image_ahash_bands,
    )
    from fitness_data_ingest_spark.registry_multimodal import image_dedup

    rng, px = 7, bytearray()
    for _ in range(6 * 4 * 3):
        rng = (rng * 6364136223846793005 + 1) % (2**63)
        px.append((rng >> 33) % 256)
    dup = encode_ppm_p6(6, 4, bytes(px))
    other = encode_ppm_p6(1, 1, bytes(px[:3]))
    media = spark.createDataFrame(
        [(0, dup), (1, dup), (2, other)], "media_id long, payload binary"
    )
    out = {
        r["media_id"]: r["n_dups"]
        for r in image_dedup(image_ahash_bands(media)).collect()
    }
    spark.catalog.clearCache()
    assert out[0] >= 1 and out[1] >= 1


@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-3, max_value=3), min_size=64, max_size=64
        ).filter(lambda v: any(v)),
        min_size=1,
        max_size=8,
    )
)
@PROP_SETTINGS
def test_decontaminate_flags_planted_duplicate(spark, vecs):
    """Planting an EXACT copy of an eval vector in the train split must
    be detected (same LSH bucket by construction, cosine 1 >= tau), and
    candidate accounting stays consistent for any corpus."""
    from fitness_data_ingest_spark.registry_similarity import cross_split_decontaminate

    rows = []
    for i, v in enumerate(vecs):
        rows.append((10 * (i + 1), [float(x) for x in v], 0))  # eval split
    # plant: train copy of the FIRST eval vector
    rows.append((1, [float(x) for x in vecs[0]], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    [r] = cross_split_decontaminate(emb).collect()
    assert r["n_contaminated"] >= 1
    assert r["max_cos4"] >= 0.9999
    assert r["n_cand_pairs"] >= 1 and r["n_train"] == 1


@given(keys=st.sets(st.integers(min_value=0, max_value=300), min_size=1, max_size=25))
@PROP_SETTINGS
def test_bloom_no_false_negatives_and_fp_matches_bruteforce(spark, keys):
    """Bloom soundness on ANY key set: every real key is a member of
    its own file's bloom (zero false negatives — checked by probing the
    build keys through the same predicate), and the audit's
    false-positive counts equal the brute-force bit replay."""
    from fitness_data_ingest_spark.registry_warehouse import (
        BF_BITS,
        BF_FILES,
        BF_K,
        BF_PROBES,
        bloom_prune_audit,
    )

    orders = spark.createDataFrame([(k,) for k in keys], "o_orderkey long")
    out = {r["f"]: (r["n_keys"], r["n_fp"]) for r in bloom_prune_audit(orders).collect()}

    blooms: dict[int, set[int]] = {}
    per_file: dict[int, int] = {}
    for k in keys:
        f = _md5_32(f"bf_file:{k}") % BF_FILES
        per_file[f] = per_file.get(f, 0) + 1
        for j in range(BF_K):
            blooms.setdefault(f, set()).add(_md5_32(f"bf{j}:{k}") % BF_BITS)
    # no false negatives: the build keys themselves always pass
    for k in keys:
        f = _md5_32(f"bf_file:{k}") % BF_FILES
        assert all(_md5_32(f"bf{j}:{k}") % BF_BITS in blooms[f] for j in range(BF_K))
    mx = max(keys)
    want = {}
    for f, n in per_file.items():
        fp = sum(
            1
            for p in range(mx + 1, mx + 1 + BF_PROBES)
            if all(_md5_32(f"bf{j}:{p}") % BF_BITS in blooms[f] for j in range(BF_K))
        )
        want[f] = (n, fp)
    assert out == want


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=-4, max_value=4), min_size=6, max_size=6),
        min_size=3,
        max_size=14,
    ),
    k=st.integers(min_value=2, max_value=4),
)
@PROP_SETTINGS
def test_kmeans_lloyd_matches_bruteforce(spark, vecs, k):
    """Distributed Lloyd == the sequential Python replay (quantize,
    seed by lowest ids, 3 assignment rounds with integer-pair centroids
    and double-division argmin) for any input and k."""
    from fitness_data_ingest_spark.ext.similarity import kmeans_lloyd

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["cid"]: (r["n_members"], r["rep_id"], r["inertia4"])
        for r in kmeans_lloyd(emb, k=k, rounds=3).collect()
    }

    dims = len(vecs[0])
    mn = [min(float(v[i]) for v in vecs) for i in range(dims)]
    mx = [max(float(v[i]) for v in vecs) for i in range(dims)]
    import math

    codes = [
        [
            int(math.floor((float(v[i]) - mn[i]) / (mx[i] - mn[i]) * 255 + 0.5))
            if mx[i] > mn[i]
            else 0
            for i in range(dims)
        ]
        for v in vecs
    ]
    state = {i: (1, list(codes[i])) for i in range(min(k, len(vecs)))}
    assigned = None
    for r in range(3):
        assigned = {}
        for vid, c in enumerate(codes):
            best = None
            for cid in sorted(state):
                cnt, s = state[cid]
                d2 = sum((cnt * c[i] - s[i]) ** 2 for i in range(dims))
                key = (d2 / float(cnt * cnt), cid)
                if best is None or key < best[0]:
                    best = (key, cid, d2, cnt)
            assigned[vid] = (best[1], best[2], best[3])
        if r < 2:
            new: dict[int, tuple[int, list[int]]] = {}
            for vid, (cid, _, _) in assigned.items():
                cnt, s = new.get(cid, (0, [0] * dims))
                new[cid] = (cnt + 1, [s[i] + codes[vid][i] for i in range(dims)])
            state = new
    want: dict[int, tuple[int, int, float]] = {}
    agg: dict[int, list] = {}
    for vid, (cid, d2, cnt) in assigned.items():
        a = agg.setdefault(cid, [0, vid, 0, cnt])
        a[0] += 1
        a[1] = min(a[1], vid)
        a[2] += d2
    for cid, (n, rep, sd2, cnt) in agg.items():
        want[cid] = (n, rep, math.floor(sd2 / float(cnt * cnt) * 10000 + 0.5) / 10000.0)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # orderkey
            st.integers(min_value=0, max_value=6),  # partkey
            st.integers(min_value=0, max_value=3),  # suppkey
            st.sampled_from(["A", "N", "R"]),
        ),
        min_size=1,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_ndv_mincount_matches_bruteforce(spark, rows):
    """Exact NDV is exact, and the MinCount estimate equals the
    integer-division hash replay — for any duplicate structure."""
    from fitness_data_ingest_spark.registry_warehouse import (
        NDV_BUCKETS,
        NDV_COLS,
        NDV_R,
        ndv_mincount,
    )

    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_returnflag string",
    )
    got = {
        r["cname"]: (r["exact_ndv"], r["est_ndv"])
        for r in ndv_mincount(df).collect()
    }
    for ci, cname in enumerate(NDV_COLS):
        vals = {str(r[ci]) for r in rows}
        mins: dict[int, int] = {}
        for v in vals:
            h = _md5_32(f"ndv:{v}")
            b = h % NDV_BUCKETS
            mins[b] = min(mins.get(b, h), h)
        est = sum(NDV_R // (m + 1) - 1 for m in mins.values())
        assert got[cname] == (len(vals), est)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=7200),  # ts second offset
        ),
        min_size=1,
        max_size=25,
    )
)
@PROP_SETTINGS
def test_lateness_sweep_matches_bruteforce(spark, rows):
    """Drop counts equal the per-user running-max replay at every
    threshold, and the curve is non-increasing in the watermark."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_stream import WM_SWEEP, lateness_sweep

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=s)) for i, (u, s) in enumerate(rows)
    ]
    events = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp"
    )
    got = {
        r["w_seconds"]: r["n_dropped"] for r in lateness_sweep(events).collect()
    }

    late_s: list[float] = []
    for u in {u for _, u, _ in data}:
        mx = None
        for _, _, ts in sorted(
            (d for d in data if d[1] == u), key=lambda d: d[0]
        ):
            mx = ts if mx is None or ts > mx else mx
            late_s.append((mx - ts).total_seconds())
    want = {w: sum(1 for s in late_s if s > w) for w in WM_SWEEP}
    assert got == want
    seq = [got[w] for w in WM_SWEEP]
    assert seq == sorted(seq, reverse=True)


@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=7)
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=16,
    )
)
@PROP_SETTINGS
def test_label_propagation_matches_bruteforce(spark, edges):
    """Synchronous LPA == the Python replay (3 rounds, neighbor-label
    mode, ties to the smallest label) for any symmetric graph."""
    from fitness_data_ingest_spark.ops.graph import label_propagation

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["community"]: (r["n_members"], r["rep_id"])
        for r in label_propagation(df, rounds=3).collect()
    }
    spark.catalog.clearCache()

    adj: dict[int, list[int]] = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    lbl = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, nbrs in adj.items():
            cnt: dict[int, int] = {}
            for m in nbrs:
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            new[n] = min(cnt, key=lambda c: (-cnt[c], c))
        lbl = new
    want: dict[int, tuple[int, int]] = {}
    for n, c in lbl.items():
        cur = want.get(c, (0, n))
        want[c] = (cur[0] + 1, min(cur[1], n))
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),  # token count
            st.sampled_from(["s0", "s1"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@PROP_SETTINGS
def test_token_budget_sample_matches_bruteforce(spark, docs):
    """The hierarchical take-while == the sequential hash-order walk:
    identical per-source composition, and the tokens taken BEFORE the
    last selected doc always fit the budget."""
    from fitness_data_ingest_spark.registry_text import TB_PCT, token_budget_sample

    rows = [(i, " ".join(["w"] * n), src) for i, (n, src) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: (r["n_taken"], r["tokens_taken"])
        for r in token_budget_sample(df).collect()
    }

    total = sum(n for n, _ in docs)
    budget = total * TB_PCT // 100
    order = sorted(
        range(len(docs)), key=lambda i: (_md5_32(f"tb:{i}"), i)
    )
    want: dict[str, tuple[int, int]] = {}
    cum = 0
    for i in order:
        n, src = docs[i]
        if cum < budget:
            c, tk = want.get(src, (0, 0))
            want[src] = (c + 1, tk + n)
        cum += n
    assert got == want


@given(
    base=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=6,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    ndup=st.integers(min_value=1, max_value=3),
)
@PROP_SETTINGS
def test_lsh_recall_eval_perfect_on_exact_duplicates(spark, base, ndup):
    """Identical documents have identical MinHash signatures, so every
    band collides: when ALL true near-dup pairs are exact duplicates,
    candidate recall is exactly 1.0 — for any corpus. Counting
    invariants (hits bounded by both sides) hold always."""
    from fitness_data_ingest_spark.registry_similarity import lsh_recall_eval

    texts = list(base) + [base[0]] * ndup  # plant exact duplicates
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    [r] = lsh_recall_eval(docs).collect()
    spark.catalog.clearCache()
    assert r["n_hit"] <= r["n_cand"] and r["n_hit"] <= r["n_truth"]
    # the planted duplicate group contributes C(ndup+1, 2) true pairs
    planted = (ndup + 1) * ndup // 2
    assert r["n_truth"] >= planted
    if r["n_truth"] == planted:  # all true pairs are the exact-dup group
        assert r["recall4"] == 1.0


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=0, max_value=50), min_size=8, max_size=8),
        min_size=5,
        max_size=14,
    )
)
@PROP_SETTINGS
def test_pq_adc_topk_matches_bruteforce(spark, vecs):
    """Full Python mirror of the PQ pipeline (SQ8 -> per-subspace Lloyd
    with exact integer dist²·cnt² -> per-query ADC LUT with the fixed
    ((d0+d1)+d2)+d3 fold -> top-k) — every (query, cand, rank, adc4)
    tuple must match the Spark plan exactly."""
    import math

    from fitness_data_ingest_spark.ext.similarity import pq_adc_topk

    m, kc, rounds, k, qmod = 4, 3, 2, 2, 3
    dim = 8
    dsub = dim // m
    n = len(vecs)

    # --- mirror ---
    mn = [min(v[i] for v in vecs) for i in range(dim)]
    mx = [max(v[i] for v in vecs) for i in range(dim)]
    codes = {
        vid: [
            int(math.floor((float(v[i]) - mn[i]) / (mx[i] - mn[i]) * 255 + 0.5))
            if mx[i] > mn[i]
            else 0
            for i in range(dim)
        ]
        for vid, v in enumerate(vecs)
    }
    sub = {
        (vid, s): codes[vid][s * dsub : (s + 1) * dsub]
        for vid in range(n)
        for s in range(m)
    }
    state = {
        s: {cid: (1, list(sub[(cid, s)])) for cid in range(min(kc, n))}
        for s in range(m)
    }
    assigned = None
    for r in range(rounds):
        assigned = {}
        for vid in range(n):
            for s in range(m):
                best = None
                for cid, (cnt, sums) in state[s].items():
                    d2 = sum(
                        (cnt * x - si) ** 2 for x, si in zip(sub[(vid, s)], sums)
                    )
                    key = (d2 / float(cnt * cnt), cid)
                    if best is None or key < best[0]:
                        best = (key, cid)
                assigned[(vid, s)] = best[1]
        if r < rounds - 1:
            nxt = {s: {} for s in range(m)}
            for s in range(m):
                for cid in state[s]:
                    members = [
                        vid for vid in range(n) if assigned[(vid, s)] == cid
                    ]
                    if not members:
                        continue
                    sums = [
                        sum(sub[(vid, s)][i] for vid in members)
                        for i in range(dsub)
                    ]
                    nxt[s][cid] = (len(members), sums)
            state = nxt
    queries = [vid for vid in range(n) if vid % qmod == 0]
    cands = [vid for vid in range(n) if vid % qmod != 0]
    want = {}
    for q in queries:
        scored = []
        for cand in cands:
            ds = []
            for s in range(m):
                cid = assigned[(cand, s)]
                cnt, sums = state[s][cid]
                d2 = sum(
                    (cnt * x - si) ** 2 for x, si in zip(sub[(q, s)], sums)
                )
                ds.append(d2 / float(cnt * cnt))
            adc = ((ds[0] + ds[1]) + ds[2]) + ds[3]
            scored.append((adc, cand))
        scored.sort()
        for rnk, (adc, cand) in enumerate(scored[:k], start=1):
            want[(q, cand)] = (rnk, math.floor(adc * 10000 + 0.5) / 10000.0)

    # --- spark ---
    df = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["query_id"], r["cand_id"]): (r["rnk"], r["adc4"])
        for r in pq_adc_topk(
            df, F.col("vec_id") % qmod == 0, m=m, k_cent=kc, rounds=rounds, k=k
        ).collect()
    }
    spark.catalog.clearCache()
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@PROP_SETTINGS
def test_kcore_peel_matches_bruteforce(spark, pairs, k):
    """Python mirror of synchronous k-core peeling on arbitrary small
    graphs: per-round (n_nodes, n_edges, n_removed) must match exactly,
    including zero-degree-active removal and empty-core rounds."""
    from fitness_data_ingest_spark.ops.graph import kcore_peel

    edges = sorted({(a, b) for a, b in pairs if a != b} | {
        (b, a) for a, b in pairs if a != b
    })
    if not edges:
        return
    rounds = 3
    active = {a for a, _ in edges}
    want = []
    for r in range(rounds):
        ae = [(a, b) for a, b in edges if a in active and b in active]
        deg = {}
        for _, b in ae:
            deg[b] = deg.get(b, 0) + 1
        nxt = {n for n, d in deg.items() if d >= k}
        want.append((r, len(active), len(ae), len(active) - len(nxt)))
        active = nxt

    df = spark.createDataFrame(edges, "src long, dst long")
    got = [
        (r["round"], r["n_nodes"], r["n_edges"], r["n_removed"])
        for r in kcore_peel(df, k=k, rounds=rounds).collect()
    ]
    spark.catalog.clearCache()
    assert got == want


# -------------------------------------------------- round-6 statistics


def _mk_ab_events(spark, avals, bvals):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, base, "click", c / 100.0) for i, c in enumerate(avals)
    ] + [
        (len(avals) + i, base, "view", c / 100.0) for i, c in enumerate(bvals)
    ]
    return spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )


@given(
    avals=st.lists(st.integers(min_value=1, max_value=9000), min_size=1, max_size=25),
    bvals=st.lists(st.integers(min_value=1, max_value=9000), min_size=1, max_size=25),
)
@PROP_SETTINGS
def test_ks_two_sample_matches_bruteforce(spark, avals, bvals):
    """Integer KS numerator == brute-force max ECDF gap over the merged
    support, including the smallest-argmax tie-break; values straddle
    the KS_BUCKET boundary so the hierarchical prefix sum is exercised
    across coarse buckets."""
    from fitness_data_ingest_spark.registry_stats import ks_two_sample

    row = ks_two_sample(_mk_ab_events(spark, avals, bvals)).collect()[0]
    na, nb = len(avals), len(bvals)
    support = sorted(set(avals) | set(bvals))
    best = (-1, None)
    for v in support:
        ca = sum(1 for x in avals if x <= v)
        cb = sum(1 for x in bvals if x <= v)
        d = abs(ca * nb - cb * na)
        if d > best[0]:
            best = (d, v)
    assert (row["n_a"], row["n_b"], row["d_num"], row["at_cents"]) == (
        na, nb, best[0], best[1]
    )


@given(
    avals=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=20),
    bvals=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=20),
)
@PROP_SETTINGS
def test_mannwhitney_matches_pair_count(spark, avals, bvals):
    """2·U_A from the cumulative identity == the literal pair count
    (2 per A>B pair, 1 per tie) — heavy ties on a narrow domain."""
    from fitness_data_ingest_spark.registry_stats import mannwhitney_u

    row = mannwhitney_u(_mk_ab_events(spark, avals, bvals)).collect()[0]
    u2 = sum(2 if a > b else (1 if a == b else 0) for a in avals for b in bvals)
    assert (row["u2_a"], row["u2_b"]) == (
        u2, 2 * len(avals) * len(bvals) - u2
    )


@given(
    labels=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=2)),
        min_size=2,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_chi2_cells_match_bruteforce(spark, labels):
    """Per-cell chi-square contributions == the Python float replay of
    the identical expression tree (both are IEEE doubles from exact
    int64 roots)."""
    import math

    from fitness_data_ingest_spark.registry_stats import chi2_independence

    orders = spark.createDataFrame(
        [(i, f"P{p}", f"S{s}") for i, (p, s) in enumerate(labels)],
        "o_orderkey long, o_orderpriority string, o_orderstatus string",
    )
    got = {
        (r["o_orderpriority"], r["o_orderstatus"]): (
            r["obs"], r["row_tot"], r["col_tot"], r["exp6"], r["contrib6"]
        )
        for r in chi2_independence(orders).collect()
    }
    obs: dict[tuple, int] = {}
    for p, s in labels:
        obs[(f"P{p}", f"S{s}")] = obs.get((f"P{p}", f"S{s}"), 0) + 1
    T = len(labels)
    rt = {p: sum(v for (pp, _), v in obs.items() if pp == p) for p, _ in obs}
    ct = {s: sum(v for (_, ss), v in obs.items() if ss == s) for _, s in obs}
    want = {}
    for (p, s), o in obs.items():
        n = o * T - rt[p] * ct[s]
        want[(p, s)] = (
            o, rt[p], ct[s],
            math.floor(float(rt[p]) * float(ct[s]) / float(T) * 1000000 + 0.5) / 1000000.0,
            math.floor(float(n) * float(n) / float(T * rt[p] * ct[s]) * 1000000 + 0.5) / 1000000.0,
        )
    assert got == want


@given(
    groups=st.lists(
        st.lists(st.integers(min_value=1, max_value=500), min_size=2, max_size=10),
        min_size=2,
        max_size=5,
    )
)
@PROP_SETTINGS
def test_benjamini_hochberg_matches_bruteforce(spark, groups):
    """Chebyshev p-values + BH step-up == the Python replay: same p9
    quantization, same lexicographic rank tie-break, same integer
    cross-multiplied rejection front."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_stats import (
        BH_INV_ALPHA,
        benjamini_hochberg,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (gi * 1000 + i, base, f"t{gi}", c / 100.0)
        for gi, vals in enumerate(groups)
        for i, c in enumerate(vals)
    ]
    events = spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {
        r["event_type"]: (r["n"], r["p9"], r["k"], r["rejected"])
        for r in benjamini_hochberg(events).collect()
    }

    m = len(groups)
    tn = sum(len(v) for v in groups)
    ts_ = sum(sum(v) for v in groups)
    mu = float(ts_) / float(tn)
    scored = []
    for gi, vals in enumerate(groups):
        n, s, q = len(vals), sum(vals), sum(c * c for c in vals)
        mean_g = float(s) / float(n)
        var_num = float(q * n - s * s)
        s2 = var_num / (float(n) * float(n - 1))
        dev = mean_g - mu
        denom = float(n) * dev * dev
        p = 1.0 if denom == 0.0 else min(1.0, s2 / denom)
        scored.append((f"t{gi}", n, math.floor(p * 1000000000 + 0.5)))
    ranked = []
    for et, n, p9 in scored:
        k = 1 + sum(
            1 for et2, _, p92 in scored if p92 < p9 or (p92 == p9 and et2 < et)
        )
        ranked.append((et, n, p9, k))
    k_star = max(
        (k for _, _, p9, k in ranked if p9 * BH_INV_ALPHA * m <= k * 1000000000),
        default=0,
    )
    want = {et: (n, p9, k, k <= k_star) for et, n, p9, k in ranked}
    assert got == want


@given(
    prices=st.lists(st.integers(min_value=100, max_value=99999), min_size=3, max_size=25)
)
@PROP_SETTINGS
def test_bootstrap_ci_matches_bruteforce(spark, prices):
    """Deterministic Poisson bootstrap == the hashlib replay: same
    md5 row seed, same BOOT_MIX integer-mixer draws, same inverse-CDF
    counts, same replicate means and order-statistic CI bounds. Empty
    replicates (all-zero weights) can't occur with these sizes but
    ranks must still line up exactly."""
    import hashlib
    import math

    from fitness_data_ingest_spark.registry_stats import (
        BOOT_MIX_A1,
        BOOT_MIX_A2,
        BOOT_MIX_C1,
        BOOT_MIX_MOD,
        N_BOOT,
        POISSON_CUM,
        bootstrap_ci,
    )

    orders = spark.createDataFrame(
        [(i, c / 100.0) for i, c in enumerate(prices)],
        "o_orderkey long, o_totalprice double",
    )
    row = bootstrap_ci(orders).collect()[0]

    def pois(u):
        for k, thr in enumerate(POISSON_CUM):
            if u < thr:
                return k
        return len(POISSON_CUM)

    reps = []
    for b in range(N_BOOT):
        sb = nb = 0
        for i, c in enumerate(prices):
            s = int(hashlib.md5(f"boot:{i}".encode()).hexdigest()[:8], 16)
            m1 = ((s ^ (b * BOOT_MIX_C1)) * BOOT_MIX_A1) % BOOT_MIX_MOD
            m2 = ((m1 ^ (m1 >> 15)) * BOOT_MIX_A2) % BOOT_MIX_MOD
            u = (m2 ^ (m2 >> 13)) % 1000000
            w = pois(u)
            sb += w * c
            nb += w
        if nb:
            reps.append((b, math.floor(sb * 100.0 / float(nb) + 0.5)))
    ranked = [
        (mean, b, sum(1 for b2, m2 in reps if m2 < mean or (m2 == mean and b2 < b)))
        for b, mean in reps
    ]
    lo = next((m for m, _, r0 in ranked if r0 == 1), None)
    hi = next((m for m, _, r0 in ranked if r0 == N_BOOT - 2), None)
    point = math.floor(sum(prices) * 100.0 / float(len(prices)) + 0.5)
    assert (row["n_boot"], row["point_c2"], row["lo_c2"], row["hi_c2"]) == (
        len(reps), point, lo, hi
    )


# --------------------------------------------- round-6 feature family


@given(
    groups=st.lists(
        st.lists(st.integers(min_value=0, max_value=400), min_size=2, max_size=12),
        min_size=1,
        max_size=3,
    )
)
@PROP_SETTINGS
def test_scale_battery_matches_bruteforce(spark, groups):
    """Fitted scaler params (exact quartiles, integer moments) and the
    applied z/minmax/robust values == the Python replay, including the
    constant-column guards."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import scale_battery

    base = dt.datetime(2024, 1, 1)
    data = [
        (gi * 1000 + i, base, f"t{gi}", c / 100.0)
        for gi, vals in enumerate(groups)
        for i, c in enumerate(vals)
    ]
    events = spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {
        r["event_id"]: (r["c"], r["z6"], r["mm6"], r["robust6"])
        for r in scale_battery(events, mod=3).collect()
    }

    def q6(x):
        return math.floor(x * 1000000 + 0.5) / 1000000.0

    want = {}
    for gi, vals in enumerate(groups):
        n = len(vals)
        s, q = sum(vals), sum(c * c for c in vals)
        cmin, cmax = min(vals), max(vals)
        sv = sorted(vals)

        def ordstat(mult, k):
            # smallest v with mult*cum >= k*n
            cum = 0
            for v in sv:
                cum += 1
                if mult * cum >= k * n:
                    return v
            return sv[-1]

        p25, p50, p75 = ordstat(4, 1), ordstat(2, 1), ordstat(4, 3)
        std = math.sqrt(float(q * n - s * s) / (float(n) * float(n - 1)))
        mean = float(s) / float(n)
        for i, c in enumerate(vals):
            eid = gi * 1000 + i
            if eid % 3 != 0:
                continue
            z = 0.0 if (n < 2 or std == 0.0) else q6((float(c) - mean) / std)
            mm = 0.0 if cmax == cmin else q6(float(c - cmin) / float(cmax - cmin))
            rb = 0.0 if p75 == p25 else q6(float(c - p50) / float(p75 - p25))
            want[eid] = (c, z, mm, rb)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # segment index
            st.integers(min_value=-300, max_value=300),  # balance cents
        ),
        min_size=2,
        max_size=25,
    )
)
@PROP_SETTINGS
def test_target_encode_matches_bruteforce(spark, rows):
    """Smoothed m-estimate encoding and the leave-one-out variant ==
    the Python replay, negative targets included."""
    import math

    from fitness_data_ingest_spark.registry_events import (
        TE_SMOOTH,
        target_encode,
    )

    segs = ["S0", "S1", "S2"]
    customer = spark.createDataFrame(
        [(i, segs[s], c / 100.0) for i, (s, c) in enumerate(rows)],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    got = {
        r["c_custkey"]: (r["enc6"], r["loo6"])
        for r in target_encode(customer, mod=2).collect()
    }

    def q6(x):
        return math.floor(x * 1000000 + 0.5) / 1000000.0

    tn = len(rows)
    ts_ = sum(c for _, c in rows)
    mu = float(ts_) / float(tn)
    m = TE_SMOOTH
    want = {}
    for i, (s, c) in enumerate(rows):
        if i % 2 != 0:
            continue
        n_g = sum(1 for s2, _ in rows if s2 == s)
        s_g = sum(c2 for s2, c2 in rows if s2 == s)
        enc = q6((float(s_g) + m * mu) / float(n_g + m) / 100.0)
        loo = (
            None
            if n_g <= 1
            else q6((float(s_g - c) + m * mu) / float(n_g - 1 + m) / 100.0)
        )
        want[i] = (enc, loo)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # label
            st.integers(min_value=0, max_value=1),  # feature A value
            st.integers(min_value=0, max_value=3),  # feature B value
        ),
        min_size=2,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_chi2_select_ranks_match_bruteforce(spark, rows):
    """Per-feature chi² (micro-quantized cell sums) and ranks == the
    Python replay on a two-feature contingency."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import chi2_feature_select

    base = dt.datetime(2024, 3, 15)
    flags = ["A", "N", "R"]
    li = spark.createDataFrame(
        [
            (
                i,
                flags[lab],
                "F" if a == 0 else "O",
                float(b * 10 + 1),  # qty buckets 0..3
                0.0,
                base,
            )
            for i, (lab, a, b) in enumerate(rows)
        ],
        "l_orderkey long, l_returnflag string, l_linestatus string, "
        "l_quantity double, l_discount double, l_shipdate timestamp",
    )
    got = {
        r["f"]: (r["n_cells"], r["dof"], r["chi2_6"], r["rnk"])
        for r in chi2_feature_select(li).collect()
    }

    feats = {
        "linestatus": lambda lab, a, b: "F" if a == 0 else "O",
        "qty_bucket": lambda lab, a, b: str(b),
        "disc_bucket": lambda lab, a, b: "0",
        "ship_month": lambda lab, a, b: "3",
    }
    per_f = {}
    for fname, fv in feats.items():
        cells = {}
        for lab, a, b in rows:
            key = (fv(lab, a, b), flags[lab])
            cells[key] = cells.get(key, 0) + 1
        T = len(rows)
        rt = {}
        ct = {}
        for (v, lab), o in cells.items():
            rt[v] = rt.get(v, 0) + o
            ct[lab] = ct.get(lab, 0) + o
        cm = 0
        for (v, lab), o in cells.items():
            root = o * T - rt[v] * ct[lab]
            cm += math.floor(
                float(root) * float(root) / float(T * rt[v] * ct[lab]) * 1000000
                + 0.5
            )
        per_f[fname] = (
            len(cells),
            (len(rt) - 1) * (len(ct) - 1),
            cm,
        )
    want = {}
    for fname, (nc, dof, cm) in per_f.items():
        rnk = 1 + sum(
            1
            for f2, (_, _, cm2) in per_f.items()
            if cm2 > cm or (cm2 == cm and f2 < fname)
        )
        want[fname] = (nc, dof, cm / 1000000.0, rnk)
    assert got == want


def test_onehot_encode_is_exact_and_exclusive(spark):
    """Every encoded row has exactly one segment indicator set (known
    vocab) or zero (unseen value), and bal_neg mirrors the sign."""
    from fitness_data_ingest_spark.registry_events import onehot_encode

    customer = spark.createDataFrame(
        [
            (0, "AUTOMOBILE", 10.0),
            (11, "BUILDING", -5.0),
            (22, "UNSEEN", 3.0),
            (33, "MACHINERY", 0.0),
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    rows = {r["c_custkey"]: r for r in onehot_encode(customer).collect()}
    assert set(rows) == {0, 11, 22, 33}
    segcols = [c for c in rows[0].asDict() if c.startswith("seg_")]
    assert sum(rows[0][c] for c in segcols) == 1 and rows[0]["seg_automobile"] == 1
    assert rows[11]["seg_building"] == 1 and rows[11]["bal_neg"] == 1
    assert sum(rows[22][c] for c in segcols) == 0
    assert rows[33]["bal_neg"] == 0


# ------------------------------------------------ round-6 text family

WORD = st.sampled_from(["the", "a", "of", "xx", "data", "spark", "longword"])


@given(
    docs=st.lists(
        st.lists(WORD, min_size=1, max_size=12), min_size=1, max_size=8
    )
)
@PROP_SETTINGS
def test_gopher_rules_match_bruteforce(spark, docs):
    """Per-source rule-failure counts == the Python replay of the five
    integer cross-multiplied rules."""
    from fitness_data_ingest_spark.registry_text import (
        GOPHER_WC_HI,
        GOPHER_WC_LO,
        GOPHER_WL_HI,
        GOPHER_WL_LO,
    )
    from fitness_data_ingest_spark.registry_text import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )

    df = spark.createDataFrame(
        [(i, " ".join(ws), f"s{i % 2}") for i, ws in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (
            r["n_docs"], r["pass_all"], r["fail_wordcount"], r["fail_wordlen"],
            r["fail_toprep"], r["fail_distinct"], r["fail_stopword"],
        )
        for r in gopher_rules(df).collect()
    }
    agg: dict[str, list] = {}
    for i, ws in enumerate(docs):
        src = f"s{i % 2}"
        n = len(ws)
        len_sum = sum(len(w) for w in ws)
        top = max(ws.count(w) for w in set(ws))
        dis = len(set(ws))
        nstop = sum(1 for w in set(ws) if w in GOPHER_STOPWORDS)
        f = [
            n < GOPHER_WC_LO or n > GOPHER_WC_HI,
            len_sum < GOPHER_WL_LO * n or len_sum > GOPHER_WL_HI * n,
            4 * top > n,
            10 * dis < 3 * n,
            nstop < 2,
        ]
        row = agg.setdefault(src, [0] * 7)
        row[0] += 1
        row[1] += 0 if any(f) else 1
        for j, fv in enumerate(f):
            row[2 + j] += int(fv)
    assert got == {k: tuple(v) for k, v in agg.items()}


@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=3), min_size=5, max_size=10),
        min_size=1,
        max_size=8,
    )
)
@PROP_SETTINGS
def test_ngram_novelty_matches_bruteforce(spark, docs):
    """Novel span-type counts == the Python first-seen replay over
    distinct per-doc spans (narrow token domain forces collisions)."""
    from fitness_data_ingest_spark.registry_text import (
        NOVELTY_SPAN,
        ngram_novelty,
    )

    texts = [" ".join(f"w{x}" for x in ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, txt, f"s{i % 2}") for i, txt in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (r["n_docs"], r["span_types"], r["novel_types"])
        for r in ngram_novelty(df).collect()
    }
    w = NOVELTY_SPAN
    doc_spans = []
    for ws in docs:
        toks = [f"w{x}" for x in ws]
        doc_spans.append(
            {" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)}
        )
    first: dict[str, int] = {}
    for i, spans in enumerate(doc_spans):
        for s in spans:
            if s not in first:
                first[s] = i
    agg: dict[str, list] = {}
    for i, spans in enumerate(doc_spans):
        if not spans:
            continue
        src = f"s{i % 2}"
        row = agg.setdefault(src, [set(), 0, 0])
        row[0].add(i)
        row[1] += len(spans)
        row[2] += sum(1 for s in spans if first[s] == i)
    assert got == {k: (len(v[0]), v[1], v[2]) for k, v in agg.items()}


@given(
    docs=st.lists(
        st.text(alphabet="abcd ", min_size=3, max_size=20),
        min_size=2,
        max_size=10,
    )
)
@PROP_SETTINGS
def test_perplexity_bucket_matches_bruteforce(spark, docs):
    """Source × bucket composition == the Python replay: identical
    micro-nat quantization per term, half-up integer mean, exact
    tertile thresholds."""
    import math

    from fitness_data_ingest_spark.registry_text import perplexity_bucket

    df = spark.createDataFrame(
        [(i, txt, f"s{i % 2}") for i, txt in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source"], r["bucket"]): r["n_docs"]
        for r in perplexity_bucket(df).collect()
    }

    counts: dict[str, int] = {}
    doc_tris = []
    for txt in docs:
        tris = [txt[i : i + 3] for i in range(len(txt) - 2)] if len(txt) >= 3 else []
        doc_tris.append(tris)
        for tr in tris:
            counts[tr] = counts.get(tr, 0) + 1
    nn, vv = sum(counts.values()), len(counts)
    scores = []
    for i, tris in enumerate(doc_tris):
        if not tris:
            continue
        s = sum(
            math.floor(
                -math.log(float(counts[tr] + 1) / float(nn + vv)) * 1000000 + 0.5
            )
            for tr in tris
        )
        n = len(tris)
        scores.append((i, f"s{i % 2}", (2 * s + n) // (2 * n)))
    nd = len(scores)
    svals = sorted(sc for _, _, sc in scores)

    def thr(k):
        cum = 0
        seen = None
        for v in sorted(set(svals)):
            cum = sum(1 for x in svals if x <= v)
            if 3 * cum >= k * nd:
                seen = v
                break
        return seen

    t1, t2 = thr(1), thr(2)
    want: dict[tuple, int] = {}
    for _, src, sc in scores:
        b = "head" if sc <= t1 else ("middle" if sc <= t2 else "tail")
        want[(src, b)] = want.get((src, b), 0) + 1
    assert got == want


# ------------------------------------------------ round-6 misc family


@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=100, max_value=108),
        ),
        min_size=1,
        max_size=20,
    )
)
@PROP_SETTINGS
def test_hits_matches_path_counts(spark, edges):
    """Unnormalized integer HITS == brute-force mutual reinforcement
    (path counting) on any bipartite graph, ranks included."""
    from fitness_data_ingest_spark.registry_graph import (
        HITS_ITERS,
        hits_bipartite,
    )

    df = spark.createDataFrame(list(edges), "hub long, auth long")
    got = {
        (r["side"], r["node"]): (r["score"], r["rnk"])
        for r in hits_bipartite(df, topk=50).collect()
    }
    spark.catalog.clearCache()

    hubs = {h for h, _ in edges}
    hs = {h: 1 for h in hubs}
    for _ in range(HITS_ITERS):
        as_ = {}
        for h, a in edges:
            if h in hs:
                as_[a] = as_.get(a, 0) + hs[h]
        hs = {}
        for h, a in edges:
            if a in as_:
                hs[h] = hs.get(h, 0) + as_[a]
    want = {}
    for side, scores in (("hub", hs), ("auth", as_)):
        for n, s in scores.items():
            rnk = 1 + sum(
                1
                for n2, s2 in scores.items()
                if s2 > s or (s2 == s and n2 < n)
            )
            want[(side, n)] = (s, rnk)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=80),  # hour offset
            st.integers(min_value=1, max_value=500),  # cents
        ),
        min_size=5,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_seasonal_decompose_matches_bruteforce(spark, rows):
    """Hour-of-day seasonal indices == the Python replay: same
    complete-window rule, same width-scaled integer residuals."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import (
        SEASONAL_HALF,
        seasonal_decompose,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, base + dt.timedelta(hours=h, minutes=7), c / 100.0)
        for i, (h, c) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, "event_id long, ts timestamp, value double")
    got = {
        r["hour_of_day"]: (r["n_obs"], r["seasonal_c2"])
        for r in seasonal_decompose(ev).collect()
    }

    width = 2 * SEASONAL_HALF + 1
    hourly: dict[int, int] = {}
    for _, ts, v in data:
        hidx = int(ts.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600
        hourly[hidx] = hourly.get(hidx, 0) + int(math.floor(v * 100 + 0.5))
    agg: dict[int, list] = {}
    for hidx, tot in hourly.items():
        window = [
            hourly[hidx + o]
            for o in range(-SEASONAL_HALF, SEASONAL_HALF + 1)
            if hidx + o in hourly
        ]
        if len(window) != width:
            continue
        row = agg.setdefault(hidx % 24, [0, 0])
        row[0] += 1
        row[1] += width * tot - sum(window)
    want = {
        hod: (n, math.floor(float(rs) * 100.0 / float(width * n) + 0.5))
        for hod, (n, rs) in agg.items()
    }
    assert got == want


@given(
    docs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=600)),  # n_chars
        min_size=1,
        max_size=25,
    )
)
@PROP_SETTINGS
def test_weighted_sample_matches_hashlib(spark, docs):
    """Integer A-ES (min of w unit hashes) == the hashlib replay —
    selection set, weights, minima, and ranks all exact."""
    import hashlib

    from fitness_data_ingest_spark.registry_stats import (
        WRS_WCAP,
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, f"d{i}", nc) for i, (nc,) in enumerate(docs)],
        "doc_id long, text string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["w"], r["hmin"], r["rnk"])
        for r in weighted_sample(df, topk=10).collect()
    }

    per_doc = []
    for i, (nc,) in enumerate(docs):
        w = 1 + min(nc // 64, WRS_WCAP - 1)
        hmin = min(
            int(hashlib.md5(f"wrs:{i}:{j}".encode()).hexdigest()[:8], 16)
            for j in range(1, w + 1)
        )
        per_doc.append((i, w, hmin))
    top = sorted(per_doc, key=lambda x: (x[2], x[0]))[:10]
    want = {}
    for i, w, hmin in top:
        rnk = 1 + sum(
            1 for i2, _, h2 in top if h2 < hmin or (h2 == hmin and i2 < i)
        )
        want[i] = (w, hmin, rnk)
    assert got == want


@given(
    keys=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=10000),  # event seconds
            min_size=1,
            max_size=15,
        ),
        min_size=1,
        max_size=4,
    )
)
@PROP_SETTINGS
def test_dedup_within_delay_matches_bruteforce(spark, keys):
    """Per-key epoch fold == the sequential Python replay for any
    arrival pattern (duplicate timestamps, long gaps, singletons)."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_stream import dedup_within_delay

    delay = 100
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = [
        (ki * 1000 + j, ki, f"t{ki}", base + dt.timedelta(seconds=s))
        for ki, secs in enumerate(keys)
        for j, s in enumerate(secs)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r["event_type"]: (r["n_events"], r["n_keys"], r["n_kept"], r["n_dropped"])
        for r in dedup_within_delay(ev, delay_s=delay).collect()
    }
    want = {}
    for ki, secs in enumerate(keys):
        kept, last = 0, None
        for s in sorted(secs):
            if last is None or s > last + delay:
                kept += 1
                last = s
        want[f"t{ki}"] = (len(secs), 1, kept, len(secs) - kept)
    assert got == want


# --------------------------------------------- round-6 wave-2 family


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=9000),  # second offset
            st.integers(min_value=1, max_value=300),  # cents
        ),
        min_size=1,
        max_size=25,
    )
)
@PROP_SETTINGS
def test_range_frame_matches_bruteforce(spark, rows):
    """RANGE-frame trailing sums == the literal peer-inclusive Python
    replay (duplicate timestamps within a user see each other)."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_stream import range_frame_trailing

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = [
        (i, u, base + dt.timedelta(seconds=s), c / 100.0)
        for i, (u, s, c) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {
        r["event_id"]: (r["sum_1h_c"], r["n_1h"])
        for r in range_frame_trailing(ev, width_s=3600, mod=1).collect()
    }
    want = {}
    for i, (u, s, c) in enumerate(rows):
        peers = [
            c2
            for (u2, s2, c2) in rows
            if u2 == u and s - 3600 <= s2 <= s
        ]
        want[i] = (sum(peers), len(peers))
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # source
            st.integers(min_value=1, max_value=40),  # tokens
        ),
        min_size=1,
        max_size=20,
    )
)
@PROP_SETTINGS
def test_epoch_schedule_matches_bruteforce(spark, docs):
    """Epoch counts == the integer-division replay; allocation never
    exceeds cap × tokens and every source gets at least one epoch."""
    from fitness_data_ingest_spark.registry_text import (
        EPOCH_BUDGET_X2,
        EPOCH_MAX,
        epoch_schedule,
    )

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n), f"s{s}") for i, (s, n) in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (r["tokens"], r["target_share"], r["epochs"], r["allocated_tokens"])
        for r in epoch_schedule(df).collect()
    }
    toks = {}
    for s, n in docs:
        toks[f"s{s}"] = toks.get(f"s{s}", 0) + n
    total = sum(toks.values())
    budget = total * EPOCH_BUDGET_X2 // 2
    target = budget // len(toks)
    want = {}
    for src, tk in toks.items():
        ep = min(EPOCH_MAX, max(1, target // tk))
        want[src] = (tk, target, ep, ep * tk)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # arm (0=view,1=click)
            st.integers(min_value=1, max_value=400),  # cents
        ),
        min_size=4,
        max_size=20,
    ).filter(lambda r: len({a for a, _ in r}) == 2)
)
@PROP_SETTINGS
def test_permutation_test_matches_hashlib(spark, rows):
    """Hash-randomization replicates == the hashlib replay: same arm
    flips, same micro-quantized statistics, same add-one p-value."""
    import datetime as dt
    import hashlib
    import math

    from fitness_data_ingest_spark.registry_stats import permutation_test

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = [
        (i, "click" if a == 1 else "view", base, c / 100.0)
        for i, (a, c) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, event_type string, ts timestamp, value double"
    )
    row = permutation_test(ev, n_perm=16).collect()[0]

    def tmicro(pairs):
        sa = sum(c for a, c in pairs if a == 1)
        na = sum(1 for a, _ in pairs if a == 1)
        sb = sum(c for a, c in pairs if a == 0)
        nb = sum(1 for a, _ in pairs if a == 0)
        if na == 0 or nb == 0:
            return None
        return math.floor(
            abs(float(sa) / float(na) - float(sb) / float(nb)) * 10000 + 0.5
        )

    t_obs = tmicro(list(rows))
    n_ge = 0
    n_perm_valid = 0
    for p in range(16):
        flipped = []
        for i, (a, c) in enumerate(rows):
            hx = hashlib.md5(f"perm:{i}".encode()).hexdigest()
            seg = (p // 32) * 8
            bit = (int(hx[seg : seg + 8], 16) >> (p % 32)) & 1
            flipped.append((1 - a if bit == 1 else a, c))
        tp = tmicro(flipped)
        if tp is None:
            continue  # degenerate replicate (all rows one arm) — excluded
        n_perm_valid += 1
        if tp >= t_obs:
            n_ge += 1
    assert (row["n_perm"], row["t_obs_micro"], row["n_ge"]) == (
        n_perm_valid, t_obs, n_ge
    )


@given(seed=st.integers(min_value=0, max_value=10**6))
@PROP_SETTINGS
def test_gif_roundtrip_random(spark, seed):
    """Any palette image round-trips bit-exactly through the GIF/LZW
    codec, including table-growth and KwKwK patterns; single-byte
    corruption never throws."""
    import random

    from fitness_data_ingest_spark.ext.gif import decode_gif, encode_gif

    rnd = random.Random(seed)
    w, h = rnd.randint(1, 16), rnd.randint(1, 16)
    npal = rnd.choice([2, 4, 8, 16])
    idx = bytes(rnd.randrange(npal) for _ in range(w * h))
    pal = [(i * 3 % 256, i * 5 % 256, i * 7 % 256) for i in range(npal)]
    g = encode_gif(w, h, idx, pal)
    d = decode_gif(g)
    assert d and d["indices"] == idx and d["palette"] == pal
    pos = rnd.randrange(len(g))
    bb = bytearray(g)
    bb[pos] ^= 0xFF
    r = decode_gif(bytes(bb))
    assert r is None or isinstance(r, dict)


@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=24,
    )
)
@PROP_SETTINGS
def test_neighborhood_jaccard_matches_bruteforce(spark, edges):
    """Capped-wedge Jaccard == the Python replay on a symmetric edge
    list (cap high enough to be inactive on these sizes)."""
    from fitness_data_ingest_spark.registry_graph import neighborhood_jaccard

    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    df = spark.createDataFrame(sorted(sym), "src long, dst long")
    got = {
        (r["a"], r["b"]): (r["common"], r["deg_a"], r["deg_b"], r["jacc_micro"])
        for r in neighborhood_jaccard(df, topk=100, hub_cap=100).collect()
    }

    nbr: dict[int, set] = {}
    for a, b in sym:
        nbr.setdefault(a, set()).add(b)
    want = {}
    nodes = sorted(nbr)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            common = len(nbr[a] & nbr[b])
            if common == 0:
                continue
            want[(a, b)] = (
                common,
                len(nbr[a]),
                len(nbr[b]),
                1000000 * common // (len(nbr[a]) + len(nbr[b]) - common),
            )
    assert got == want


@given(
    names=st.sets(
        st.tuples(
            st.sampled_from(["red", "blue", "small", "big"]),
            st.sampled_from(["bolt", "ring", "widget", "gear"]),
        ),
        min_size=1,
        max_size=12,
    )
)
@PROP_SETTINGS
def test_blocking_recall_matches_bruteforce(spark, names):
    """Planted-pair recall and candidate cost == the hashlib replay for
    all three blocking strategies."""
    import hashlib

    from fitness_data_ingest_spark.registry_similarity import blocking_recall

    nm = sorted(f"{a} {b}" for a, b in names)
    part = spark.createDataFrame(
        [(i, n) for i, n in enumerate(nm)], "p_partkey long, p_name string"
    )
    got = {
        r["strategy"]: (r["n_truth"], r["n_found"], r["n_blocks"], r["n_candidates"])
        for r in blocking_recall(part).collect()
    }

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def corrupt(n):
        tk = n.split(" ")
        ci = h32(f"erb:{n}") % len(tk)
        tk[ci] = tk[ci][:-1]
        return " ".join(tk)

    def key(strategy, n):
        tk = n.split(" ")
        if strategy == "first_tok":
            return tk[0]
        if strategy == "last_tok":
            return tk[-1]
        return "".join(t[:1] for t in tk)

    want = {}
    for s in ("first_tok", "initials", "last_tok"):
        found = sum(1 for n in nm if key(s, n) == key(s, corrupt(n)))
        blocks: dict[str, int] = {}
        for n in nm:
            for v in (n, corrupt(n)):
                k = key(s, v)
                blocks[k] = blocks.get(k, 0) + 1
        want[s] = (
            len(nm),
            found,
            len(blocks),
            sum(c * (c - 1) // 2 for c in blocks.values()),
        )
    assert got == want


@given(
    prices=st.lists(st.integers(min_value=100, max_value=9999), min_size=2, max_size=30)
)
@PROP_SETTINGS
def test_equiwidth_histogram_matches_bruteforce(spark, prices):
    """Bin assignment (closed-top), counts, and percentages == replay."""
    import math

    from fitness_data_ingest_spark.registry_relational import (
        HIST_BINS,
        equiwidth_histogram,
    )

    orders = spark.createDataFrame(
        [(i, c / 100.0) for i, c in enumerate(prices)],
        "o_orderkey long, o_totalprice double",
    )
    got = {
        r["bin"]: (r["n"], r["pct6"]) for r in equiwidth_histogram(orders).collect()
    }
    lo, hi = min(prices), max(prices)
    bins: dict[int, int] = {}
    for c in prices:
        b = min(HIST_BINS - 1, (c - lo) * HIST_BINS // (hi - lo + 1))
        bins[b] = bins.get(b, 0) + 1
    tot = len(prices)
    want = {
        b: (n, math.floor(float(n) / float(tot) * 1000000 + 0.5) / 1000000.0)
        for b, n in bins.items()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # user
            st.integers(min_value=0, max_value=1000),  # minute offset
            st.integers(min_value=1, max_value=400),  # cents
        ),
        min_size=4,
        max_size=25,
    ).filter(
        lambda rs: len({(u % 2, 1 if m * 60 * 10**6 >= (min(x[1] for x in rs) * 60 * 10**6 + (max(x[1] for x in rs) - min(x[1] for x in rs)) * 60 * 10**6 // 2) else 0) for u, m, _ in rs for m in [m]}) == 4
    )
)
@PROP_SETTINGS
def test_did_estimator_matches_bruteforce(spark, rows):
    """Four cell means and the DiD estimate == the Python replay with
    the same integer midpoint boundary."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import did_estimator

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = [
        (i, u, base + dt.timedelta(minutes=m), c / 100.0)
        for i, (u, m, c) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, value double"
    )
    row = did_estimator(ev).collect()[0]

    us = [int((base + dt.timedelta(minutes=m)).timestamp() * 10**6) for _, m, _ in rows]
    lo, hi = min(us), max(us)
    cut = lo + (hi - lo) // 2
    cells: dict[tuple, list] = {}
    for (u, m, c), t_us in zip(rows, us):
        cells.setdefault((u % 2, 1 if t_us >= cut else 0), []).append(c)

    def q6(x):
        return math.floor(x * 1000000 + 0.5) / 1000000.0

    mm = {k: float(sum(v)) / float(len(v)) for k, v in cells.items()}
    assert row["ctrl_pre6"] == q6(mm[(0, 0)])
    assert row["ctrl_post6"] == q6(mm[(0, 1)])
    assert row["treat_pre6"] == q6(mm[(1, 0)])
    assert row["treat_post6"] == q6(mm[(1, 1)])
    assert row["did6"] == q6((mm[(1, 1)] - mm[(1, 0)]) - (mm[(0, 1)] - mm[(0, 0)]))


def test_multiple_regression_recovers_planted_coefficients(spark):
    """On noise-free planted data y = b0 + b1*x1 + b2*x2 the normal
    equations recover the coefficients exactly (and match numpy's
    least-squares solution)."""
    import datetime as dt

    import numpy as np

    from fitness_data_ingest_spark.registry_stats import multiple_regression

    rows = []
    k = 0
    for x1 in range(1, 13):
        for x2 in range(1, 6):
            y = (500 + 30 * x1 + 70 * x2) / 100.0  # cents -> dollars
            rows.append((k, f"{x2}-X", dt.datetime(2024, x1, 15), y))
            k += 1
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, o_orderdate timestamp, "
        "o_totalprice double",
    )
    r = multiple_regression(orders).collect()[0]
    assert (r["beta0_6"], r["beta1_6"], r["beta2_6"]) == (500.0, 30.0, 70.0)

    a = np.array([[1, x1, x2] for x1 in range(1, 13) for x2 in range(1, 6)])
    y = np.array([500 + 30 * x1 + 70 * x2 for x1 in range(1, 13) for x2 in range(1, 6)])
    beta = np.linalg.lstsq(a, y, rcond=None)[0]
    assert np.allclose(beta, [500, 30, 70])


@given(
    classes=st.lists(
        st.integers(min_value=0, max_value=2),
        min_size=1,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_class_balance_matches_hashlib(spark, classes):
    """Selected (class, id) set == the hashlib replay of per-class
    smallest-(h, id) selection with budget k."""
    import datetime as dt
    import hashlib

    from fitness_data_ingest_spark.registry_stats import class_balance_sample

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [(i, f"t{c}", base, 1.0) for i, c in enumerate(classes)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    k = 4
    got = {
        (r["event_type"], r["event_id"], r["h"])
        for r in class_balance_sample(ev, k=k).collect()
    }
    per: dict[str, list] = {}
    for i, c in enumerate(classes):
        h = int(hashlib.md5(f"bal:{i}".encode()).hexdigest()[:8], 16)
        per.setdefault(f"t{c}", []).append((h, i))
    want = set()
    for cls, lst in per.items():
        for h, i in sorted(lst)[:k]:
            want.add((cls, i, h))
    assert got == want


@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # first hour
            st.integers(min_value=0, max_value=200),  # duration hours
        ),
        min_size=2,
        max_size=20,
    )
)
@PROP_SETTINGS
def test_survival_km_matches_bruteforce(spark, users):
    """KM n_at_risk / d / cumulative neg-log == the sequential Python
    replay, censoring rule included."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import (
        KM_CENSOR_H,
        survival_km,
    )

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = []
    eid = 0
    for u, (f0, d0) in enumerate(users):
        data.append((eid, u, base + dt.timedelta(hours=f0), 1.0)); eid += 1
        data.append((eid, u, base + dt.timedelta(hours=f0 + d0), 1.0)); eid += 1
    ev = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, value double"
    )
    got = [
        (r["dur_h"], r["n_risk"], r["d"], r["neglog9"])
        for r in survival_km(ev).collect()
    ]

    hmax = max(f0 + d0 for f0, d0 in users)
    durs = []
    for f0, d0 in users:
        is_event = 1 if (f0 + d0) < hmax - KM_CENSOR_H else 0
        durs.append((d0, is_event))
    n_users = len(durs)
    grain: dict[int, list] = {}
    for d0, e in durs:
        row = grain.setdefault(d0, [0, 0])
        row[0] += 1
        row[1] += e
    cum = 0
    acc9 = 0
    n_terms = 0
    want = []
    for t in sorted(grain):
        n_at, d = grain[t]
        cum += n_at
        n_risk = n_users - cum + n_at
        if d == 0:
            continue
        if d < n_risk:
            acc9 += math.floor(
                -math.log(float(n_risk - d) / float(n_risk)) * 1000000000 + 0.5
            )
            n_terms += 1
        # a d == n_risk factor (S -> 0) is NULL in log space; windowed
        # sum() SKIPS nulls identically in both engines, so the running
        # value simply carries (or stays NULL if no term exists yet)
        want.append((t, n_risk, d, acc9 if n_terms else None))
    assert got == want


@given(
    groups=st.lists(
        st.lists(st.integers(min_value=1, max_value=500), min_size=2, max_size=10),
        min_size=2,
        max_size=5,
    )
)
@PROP_SETTINGS
def test_anova_matches_bruteforce(spark, groups):
    """Micro-quantized SSB/SSW group terms and F == the Python replay."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_stats import anova_oneway

    base = dt.datetime(2024, 1, 1)
    data = [
        (gi * 1000 + i, base, f"t{gi}", c / 100.0)
        for gi, vals in enumerate(groups)
        for i, c in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, ts timestamp, event_type string, value double"
    )
    row = anova_oneway(ev).collect()[0]

    tn = sum(len(v) for v in groups)
    ts_ = sum(sum(v) for v in groups)
    k = len(groups)
    mu = float(ts_) / float(tn)
    ssb = ssw = 0
    for vals in groups:
        n, s, q = len(vals), sum(vals), sum(c * c for c in vals)
        mg = float(s) / float(n)
        ssb += math.floor(float(n) * (mg - mu) * (mg - mu) / 10000.0 + 0.5)
        ssw += math.floor(float(q * n - s * s) / float(n) / 10000.0 + 0.5)
    f6 = (
        math.floor(
            (float(ssb) / float(k - 1)) / (float(ssw) / float(tn - k)) * 1000000
            + 0.5
        )
        / 1000000.0
        if ssw and tn > k
        else None
    )
    assert (row["n_groups"], row["n"], row["ssb_cents2_e4"],
            row["ssw_cents2_e4"], row["f6"]) == (k, tn, ssb, ssw, f6)


@given(
    avals=st.lists(st.integers(min_value=1, max_value=500), min_size=3, max_size=15),
    bvals=st.lists(st.integers(min_value=1, max_value=500), min_size=3, max_size=15),
)
@PROP_SETTINGS
def test_welch_matches_bruteforce(spark, avals, bvals):
    """Welch t and Satterthwaite df == the Python replay of the same
    moment expressions (skipping degenerate zero-variance draws)."""
    import math

    from fitness_data_ingest_spark.registry_stats import welch_ttest

    na, sa, qa = len(avals), sum(avals), sum(c * c for c in avals)
    nb, sb, qb = len(bvals), sum(bvals), sum(c * c for c in bvals)
    va = float(qa * na - sa * sa) / (float(na) * float(na) * float(na - 1))
    vb = float(qb * nb - sb * sb) / (float(nb) * float(nb) * float(nb - 1))
    if va + vb == 0.0 or (va == 0.0 and vb == 0.0):
        return  # degenerate: both samples constant
    ev = _mk_ab_events(spark, avals, bvals)
    row = welch_ttest(ev).collect()[0]

    def q6(x):
        return math.floor(x * 1000000 + 0.5) / 1000000.0

    tstat = (float(sa) / na - float(sb) / nb) / math.sqrt(va + vb)
    dfw = (va + vb) ** 2 / (
        (va * va / (na - 1)) + (vb * vb / (nb - 1))
    )
    assert (row["n_a"], row["n_b"], row["t6"], row["df6"]) == (
        na, nb, q6(tstat), q6(dfw)
    )


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=48),  # hour
            st.integers(min_value=1, max_value=400),  # cents
        ),
        min_size=2,
        max_size=15,
    ).filter(lambda p: len({h for h, _ in p}) >= 2)
)
@PROP_SETTINGS
def test_theil_sen_matches_bruteforce(spark, pts):
    """Median pairwise slope and median residual intercept == the
    sorted-replay, including the hourly pre-aggregation and lower-median
    tie rule."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_events import theil_sen

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = [
        (i, base + dt.timedelta(hours=h, minutes=13), c / 100.0)
        for i, (h, c) in enumerate(pts)
    ]
    ev = spark.createDataFrame(data, "event_id long, ts timestamp, value double")
    row = theil_sen(ev).collect()[0]

    hourly: dict[int, int] = {}
    for h, c in pts:
        hourly[h] = hourly.get(h, 0) + c
    xs = sorted(hourly)
    x0 = xs[0]
    pairs = []
    for i, xa in enumerate(xs):
        for xb in xs[i + 1 :]:
            num = 1000 * (hourly[xb] - hourly[xa])
            d = xb - xa
            pairs.append(num // d if (num >= 0) == (d >= 0) or num % d == 0 else -((-num) // d))
    # div() in Spark/DuckDB truncates toward zero for mixed signs? both
    # use floor semantics for // in DuckDB and div truncates in Spark —
    # mirror Spark div (truncation):
    pairs = []
    for i, xa in enumerate(xs):
        for xb in xs[i + 1 :]:
            num = 1000 * (hourly[xb] - hourly[xa])
            d = xb - xa
            q = abs(num) // abs(d)
            pairs.append(q if num >= 0 else -q)
    ps = sorted(pairs)
    n = len(ps)

    def lower_median(sorted_vals):
        cnt = 0
        seen = {}
        for v in sorted_vals:
            seen[v] = seen.get(v, 0) + 1
        cum = 0
        for v in sorted(seen):
            cum += seen[v]
            if 2 * cum >= len(sorted_vals):
                return v
        return sorted_vals[-1]

    slope = lower_median(ps)
    resid = sorted(1000 * hourly[x] - slope * (x - x0) for x in xs)
    intercept = lower_median(resid)
    assert (row["n_points"], row["n_pairs"], row["slope_milli"], row["intercept_m"]) == (
        len(xs), len(xs) * (len(xs) - 1) // 2, slope, intercept
    )


def test_freshness_audit_flags_stale_stream(spark):
    """A stream whose last event lags beyond the threshold flags stale;
    the freshest stream never does; last-24h counts are exact."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_warehouse import freshness_audit

    base = dt.datetime(2024, 1, 10, tzinfo=dt.timezone.utc)
    rows = [
        (0, "fresh", base, 1.0),
        (1, "fresh", base - dt.timedelta(hours=30), 1.0),
        (2, "stale", base - dt.timedelta(minutes=90), 1.0),
        (3, "stale", base - dt.timedelta(hours=50), 1.0),
        (4, "edge", base - dt.timedelta(minutes=60), 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {
        r["event_type"]: (r["n_total"], r["n_last24h"], r["lag_min"], r["stale"])
        for r in freshness_audit(ev, stale_min=60).collect()
    }
    assert got == {
        "fresh": (2, 1, 0, False),
        "stale": (2, 1, 90, True),
        "edge": (1, 1, 60, False),
    }


# ---------------------------------------------------- r6b property mirrors


def _h32_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=400),
        min_size=3, max_size=25, unique=True,
    )
)
@PROP_SETTINGS
def test_geo_grid_knn_matches_bruteforce(spark, ids):
    """Grid-probe result == brute-force within-radius scan for every
    sampled query point (count, nearest id, nearest d2)."""
    import math

    from fitness_data_ingest_spark.registry_similarity import (
        GEO_CELL,
        GEO_QUERY_MOD,
        GEO_R2,
        geo_grid_knn,
    )

    part = spark.createDataFrame([(int(i),) for i in ids], "p_partkey long")
    got = {
        r["query_id"]: (r["n_within_r"], r["nn_id"], r["nn_d2"])
        for r in geo_grid_knn(part).collect()
    }

    n = len(ids)
    d = max(1, int(math.floor(math.sqrt(float(n)))))
    dom = d * GEO_CELL
    pts = {
        i: (_h32_py(f"{i}gx") % dom, _h32_py(f"{i}gy") % dom) for i in ids
    }
    for q in ids:
        if q % GEO_QUERY_MOD != 0:
            continue
        qx, qy = pts[q]
        cands = []
        for o in ids:
            if o == q:
                continue
            d2 = (pts[o][0] - qx) ** 2 + (pts[o][1] - qy) ** 2
            if d2 <= GEO_R2:
                cands.append((d2, o))
        if cands:
            best = min(cands)
            assert got[q] == (len(cands), best[1], best[0]), q
        else:
            assert got[q] == (0, None, None), q


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60000),
            st.integers(min_value=0, max_value=23),
        ),
        min_size=2, max_size=25,
    )
)
@PROP_SETTINGS
def test_kendall_tau_matches_bruteforce(spark, rows):
    """2D-prefix concordance counts == the O(n^2) pair scan, ties from
    margins, on the same dollar/hour bucketing."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_stats import (
        KT_XMAX,
        kendall_tau,
    )

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, base + dt.timedelta(hours=int(h)), c / 100.0)
            for i, (c, h) in enumerate(rows)
        ],
        "event_id long, ts timestamp, value double",
    )
    r = kendall_tau(ev).collect()[0]

    xy = [(min(c // 100, KT_XMAX), h) for c, h in rows]
    c_pairs = d_pairs = 0
    for i in range(len(xy)):
        for j in range(len(xy)):
            if xy[i][0] < xy[j][0] and xy[i][1] < xy[j][1]:
                c_pairs += 1
            if xy[i][0] < xy[j][0] and xy[i][1] > xy[j][1]:
                d_pairs += 1
    from collections import Counter

    tx = Counter(x for x, _ in xy)
    ty = Counter(y for _, y in xy)
    n1 = sum(v * (v - 1) // 2 for v in tx.values())
    n2 = sum(v * (v - 1) // 2 for v in ty.values())
    assert (r["n_rows"], r["c_pairs"], r["d_pairs"], r["n1"], r["n2"]) == (
        len(xy), c_pairs, d_pairs, n1, n2,
    )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=0, max_value=50000),
        ),
        min_size=2, max_size=25,
        unique_by=lambda t: t[0],
    )
)
@PROP_SETTINGS
def test_changepoint_matches_bruteforce(spark, rows):
    """Best SSE split == the exhaustive split scan on hourly dollars
    (same micro quantization, same (cost, hidx) tie-break)."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import changepoint_sse

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, base + dt.timedelta(hours=int(h), minutes=7), c / 100.0)
            for i, (h, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, value double",
    )
    got = changepoint_sse(ev).collect()[0]

    hourly: dict[int, int] = {}
    h0 = int(base.timestamp()) // 3600
    for h, c in rows:
        hourly[h0 + h] = hourly.get(h0 + h, 0) + c
    ys = sorted((h, tot // 100) for h, tot in hourly.items())
    n = len(ys)
    best = None
    for split in range(1, n):
        left = [y for _, y in ys[:split]]
        right = [y for _, y in ys[split:]]
        cost = (
            sum(v * v for v in left) - sum(left) ** 2 / len(left)
            + sum(v * v for v in right) - sum(right) ** 2 / len(right)
        )
        cost_micro = math.floor(cost * 1000000 + 0.5)
        key = (cost_micro, ys[split][0])
        if best is None or key < best:
            best = key
    if n < 2:
        return
    assert (got["cost_micro"], got["best_split_hidx"]) == best


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.sampled_from(["view", "purchase", "error", "click"]),
            st.integers(min_value=0, max_value=12 * 86400),  # seconds
        ),
        min_size=1, max_size=30,
        unique_by=lambda t: (t[0], t[2]),
    )
)
@PROP_SETTINGS
def test_seq_pattern_matches_bruteforce(spark, evs):
    """Bucketed CEP matcher == the literal per-user replay of
    'A then earliest B within W, no C strictly between'."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_events import (
        SEQ_WINDOW_S,
        seq_pattern,
    )

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, int(u), ty, base + dt.timedelta(seconds=int(s)), 1.0)
            for i, (u, ty, s) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    got = {
        r["user_id"]: (r["n_matches"], r["min_gap_s"], r["max_gap_s"])
        for r in seq_pattern(ev).collect()
    }

    t0 = int(base.timestamp())
    per: dict[int, list[tuple[str, int]]] = {}
    for u, ty, s in evs:
        per.setdefault(u, []).append((ty, t0 + s))
    want = {}
    for u, items in per.items():
        a_ts = sorted(s for ty, s in items if ty == "view")
        b_ts = sorted(s for ty, s in items if ty == "purchase")
        c_ts = sorted(s for ty, s in items if ty == "error")
        gaps = []
        for ta in a_ts:
            bs = [tb for tb in b_ts if ta < tb <= ta + SEQ_WINDOW_S]
            if not bs:
                continue
            tb = min(bs)
            if any(ta < tc < tb for tc in c_ts):
                continue
            gaps.append(tb - ta)
        if gaps:
            want[u] = (len(gaps), min(gaps), max(gaps))
    assert got == want


@given(seed=st.integers(min_value=0, max_value=2**31))
@PROP_SETTINGS
def test_mmr_select_matches_greedy_replay(spark, seed):
    """Unrolled MMR rounds == a literal Python greedy over the same
    SQ8 codes (relevance/diversity weights, tie-breaks and all)."""
    import random

    from fitness_data_ingest_spark.registry_similarity import (
        MMR_CAND_MOD,
        MMR_W_DIV,
        MMR_W_REL,
        mmr_select,
    )

    rng = random.Random(seed)
    ids = [0] + [1 + MMR_CAND_MOD * i for i in range(8)]
    vecs = {
        i: [rng.randrange(0, 100) / 2.0 for _ in range(6)] for i in ids
    }
    emb = spark.createDataFrame(
        [(i, vecs[i]) for i in ids], "vec_id long, embedding array<double>"
    )
    got = [
        (r["rank"], r["vec_id"], r["d2_query"], r["min_d2_selected"])
        for r in mmr_select(emb).collect()
    ]

    # replicate sq8_codes: per-dim corpus bounds -> 0..255 codes
    import math

    dims = len(next(iter(vecs.values())))
    mn = [min(v[d] for v in vecs.values()) for d in range(dims)]
    mx = [max(v[d] for v in vecs.values()) for d in range(dims)]
    codes = {
        i: [
            int(math.floor((v[d] - mn[d]) / (mx[d] - mn[d]) * 255 + 0.5))
            if mx[d] > mn[d]
            else 0
            for d in range(dims)
        ]
        for i, v in vecs.items()
    }

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(codes[a], codes[b]))

    cands = sorted(i for i in ids if i % MMR_CAND_MOD == 1)
    want = []
    sel: list[int] = []
    for r in range(1, 6):
        rem = [c for c in cands if c not in sel]
        if not rem:
            break
        if r == 1:
            pick = min(rem, key=lambda c: (d2(c, 0), c))
            want.append((1, pick, d2(pick, 0), None))
        else:
            def score(c):
                mind = min(d2(c, s) for s in sel)
                return (MMR_W_DIV * mind - MMR_W_REL * d2(c, 0), -c)

            pick = max(rem, key=score)
            want.append(
                (r, pick, d2(pick, 0), min(d2(pick, s) for s in sel))
            )
        sel.append(pick)
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["hash", "join", "spark", "vector", "the", "a"]),
            min_size=1, max_size=12,
        ),
        min_size=1, max_size=12,
    )
)
@PROP_SETTINGS
def test_bm25_matches_bruteforce(spark, docs):
    """BM25 scores == the textbook formula replayed in Python (same
    idf variant, same saturation, same micro quantization)."""
    import math

    from fitness_data_ingest_spark.registry_util import (
        BM25_QUERY,
        bm25_topk,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["score_micro"], r["dl"])
        for r in bm25_topk(df, topk=50).collect()
    }

    nn = len(docs)
    avgdl_milli = 1000 * sum(len(d) for d in docs) // nn
    dfreq: dict[str, int] = {}
    for d in docs:
        for tk in set(d) & set(BM25_QUERY):
            dfreq[tk] = dfreq.get(tk, 0) + 1
    want = {}
    for i, d in enumerate(docs):
        dl = len(d)
        score = 0
        hit = False
        for tk in set(d) & set(BM25_QUERY):
            tf = d.count(tk)
            idf = math.log(
                1.0 + (float(nn) - float(dfreq[tk]) + 0.5)
                / (float(dfreq[tk]) + 0.5)
            )
            sat = tf * 2.2 / (
                tf + 1.2 * (0.25 + 0.75 * float(dl * 1000) / float(avgdl_milli))
            )
            score += math.floor(idf * sat * 1000000 + 0.5)
            hit = True
        if hit:
            want[i] = (score, dl)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=30000),
        ),
        min_size=6, max_size=30,
    )
)
@PROP_SETTINGS
def test_neyman_alloc_matches_bruteforce(spark, rows):
    """Hamilton rounding of Neyman weights == the literal replay
    (same float expressions, same tie-break)."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_stats import (
        NEYMAN_BUDGET,
        neyman_alloc,
    )

    # pad a/b/c to >= 2 rows each, plus one deliberate single-row
    # stratum "z" — since r11 a 1-row stratum is defined (zero weight),
    # not a 0/0 NaN, so the brute force must cover it too
    rows = rows + [("a", 100), ("a", 200), ("b", 300), ("b", 50),
                   ("c", 10), ("c", 20), ("z", 12345)]
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, g, base, c / 100.0)
            for i, (g, c) in enumerate(rows)
        ],
        "event_id long, event_type string, ts timestamp, value double",
    )
    got = {r["g"]: r["alloc"] for r in neyman_alloc(ev).collect()}

    from collections import defaultdict

    vals = defaultdict(list)
    for g, c in rows:
        vals[g].append(c)
    wgt = {}
    for g, vs in vals.items():
        n = len(vs)
        sv, svv = sum(vs), sum(v * v for v in vs)
        # r10: weights quantize half-up to int64 BEFORE the total so
        # the cross-strata sum is order-independent (the raw double
        # sum was the engine's one combine-order-dependent aggregate).
        # r11: a single-row stratum has undefined sample variance —
        # zero weight by definition on both engine sides.
        wgt[g] = 0 if n == 1 else math.floor(
            n * math.sqrt((n * svv - sv * sv) / (n * (n - 1))) + 0.5
        )
    wtot = max(sum(wgt.values()), 1)
    base_a = {
        g: math.floor(NEYMAN_BUDGET * float(w) / float(wtot))
        for g, w in wgt.items()
    }
    rem = {
        g: NEYMAN_BUDGET * float(w) / float(wtot) - base_a[g]
        for g, w in wgt.items()
    }
    short = NEYMAN_BUDGET - sum(base_a.values())
    order = sorted(rem, key=lambda g: (-rem[g], g))
    want = {
        g: int(base_a[g] + (1 if order.index(g) < short else 0))
        for g in wgt
    }
    assert got == want


def test_neyman_alloc_single_row_stratum_engines_agree(spark):
    """The n_h == 1 corner (VERDICT r10 missing item 3): before r11 the
    variance term went 0/0 -> NaN and the ENGINES DIVERGED — Spark's
    floor+cast nulled the weight while DuckDB's BIGINT cast errored.
    Both now zero-weight single-row strata; pin that Spark and the
    _NEYMAN_SQL oracle return identical rows on a frame with a 1-row
    stratum, and that the 1-row stratum gets weight share 0."""
    import datetime as dt

    import duckdb

    from fitness_data_ingest_spark.registry_stats import (
        _NEYMAN_SQL,
        neyman_alloc,
    )

    rows = [
        ("a", 1.00), ("a", 2.00), ("a", 9.50),
        ("b", 3.25), ("b", 0.75),
        ("solo", 123.45),  # the degenerate stratum
    ]
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [(i, g, base, v) for i, (g, v) in enumerate(rows)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    got = [
        (r["g"], r["n_h"], r["share_micro"], r["alloc"])
        for r in neyman_alloc(ev).collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_type VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    want = [tuple(r) for r in con.execute(_NEYMAN_SQL).fetchall()]
    con.close()

    assert got == want
    solo = {g: (sm, al) for g, _, sm, al in got}["solo"]
    assert solo == (0, 0)


def test_assortativity_and_modularity_match_bruteforce(spark):
    """Fixture-free cross-check on a hand-built two-community graph:
    assortativity r and modularity Q equal the literal formulas."""
    import math

    from fitness_data_ingest_spark.ops.graph import lpa_labels
    from fitness_data_ingest_spark.registry_graph import (
        assortativity,
        modularity,
    )

    # two triangles joined by one bridge (symmetric edge list)
    und = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")

    r = assortativity(edges).collect()[0]
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    dj = [deg[a] for a, b in sym]
    dk = [deg[b] for a, b in sym]
    m = len(sym)
    num = m * sum(j * k for j, k in zip(dj, dk)) - sum(dj) * sum(dk)
    den = math.sqrt(
        (m * sum(j * j for j in dj) - sum(dj) ** 2)
        * (m * sum(k * k for k in dk) - sum(dk) ** 2)
    )
    assert r["assort_micro"] == math.floor(num / den * 1000000 + 0.5)

    labels = {
        row["node"]: row["lbl"] for row in lpa_labels(edges, 3).collect()
    }
    q = modularity(edges, lpa_labels(edges, 3)).collect()[0]
    from collections import defaultdict

    d_c = defaultdict(int)
    e_c = defaultdict(int)
    for a, b in sym:
        d_c[labels[a]] += 1
        if labels[a] == labels[b]:
            e_c[labels[a]] += 1
    want_q = sum(
        math.floor(
            (e_c[c] / m - (d_c[c] / m) * (d_c[c] / m)) * 1000000 + 0.5
        )
        for c in d_c
    )
    assert q["q_micro"] == want_q


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(min_value=0, max_value=10 * 86400),
        ),
        min_size=2, max_size=25,
        unique_by=lambda t: (t[0], t[2]),
    )
)
@PROP_SETTINGS
def test_attribution_position_matches_bruteforce(spark, evs):
    """U-shaped credit == the literal per-conversion replay (first/last
    election with (ts, id) tie-break, k=1/k=2 special cases, integer
    middle split)."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_events import (
        ATTR_LOOKBACK_S,
        attribution_position,
    )

    base = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, int(u), ty, base + dt.timedelta(seconds=int(s)), 1.0)
            for i, (u, ty, s) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    got = {
        r["channel"]: (r["n_touches"], r["credit_milli"])
        for r in attribution_position(ev).collect()
    }

    t0 = int(base.timestamp())
    rows = [
        (i, u, ty, t0 + s) for i, (u, ty, s) in enumerate(evs)
    ]
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0])
    for cid, cu, cty, cts in rows:
        if cty != "purchase":
            continue
        touches = [
            (tid, ch, ts)
            for tid, tu, ch, ts in rows
            if tu == cu and ch in ("view", "click")
            and cts - ATTR_LOOKBACK_S <= ts < cts
        ]
        k = len(touches)
        if k == 0:
            continue
        keyed = sorted((ts, tid, ch) for tid, ch, ts in touches)
        first, last = keyed[0], keyed[-1]
        for ts, tid, ch in keyed:
            if k == 1:
                c = 1000
            elif (ts, tid) == (first[0], first[1]):
                c = 500 if k == 2 else 400
            elif (ts, tid) == (last[0], last[1]):
                c = 500 if k == 2 else 400
            else:
                c = 200 // (k - 2)
            want[ch][0] += 1
            want[ch][1] += c
    assert got == {ch: tuple(v) for ch, v in want.items()}


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60000),
            st.integers(min_value=0, max_value=23),
        ),
        min_size=3, max_size=25,
    )
)
@PROP_SETTINGS
def test_spearman_matches_bruteforce(spark, rows):
    """Grid Spearman == Pearson over tie-averaged ranks computed the
    textbook way (same bucketing, same per-cell micro quantization)."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_stats import (
        KT_XMAX,
        spearman_corr,
    )

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, base + dt.timedelta(hours=int(h)), c / 100.0)
            for i, (c, h) in enumerate(rows)
        ],
        "event_id long, ts timestamp, value double",
    )
    r = spearman_corr(ev).collect()[0]

    from collections import Counter

    xy = [(min(c // 100, KT_XMAX), h) for c, h in rows]
    n = len(xy)

    def doubled_avg_ranks(vals):
        cnt = Counter(vals)
        out = {}
        lt = 0
        for v in sorted(cnt):
            out[v] = 2 * lt + cnt[v] + 1
            lt += cnt[v]
        return out

    rx = doubled_avg_ranks([x for x, _ in xy])
    ry = doubled_avg_ranks([y for _, y in xy])
    cells = Counter(xy)
    sxy = sxx = syy = 0
    for (x, y), w in cells.items():
        ux = (rx[x] - (n + 1)) / (2.0 * n)
        uy = (ry[y] - (n + 1)) / (2.0 * n)
        sxy += math.floor(w * ux * uy * 1000000 + 0.5)
        sxx += math.floor(w * ux * ux * 1000000 + 0.5)
        syy += math.floor(w * uy * uy * 1000000 + 0.5)
    assert (r["sxy"], r["sxx"], r["syy"]) == (sxy, sxx, syy)
    if sxx > 0 and syy > 0:
        assert r["rho_micro"] == math.floor(
            sxy / math.sqrt(sxx * syy) * 1000000 + 0.5
        )
    else:
        assert r["rho_micro"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=40000),
        ),
        min_size=8, max_size=25,
        unique_by=lambda t: t[0],
    )
)
@PROP_SETTINGS
def test_ljung_box_matches_bruteforce(spark, rows):
    """Calendar-lag ACF == the literal replay on present hours (same
    rational-mean expansion, same per-lag micro quantization)."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_events import (
        LB_MAX_LAG,
        ljung_box,
    )

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, base + dt.timedelta(hours=int(h), minutes=3), c / 100.0)
            for i, (h, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, value double",
    )
    got = {r["k"]: (r["m"], r["r_micro"]) for r in ljung_box(ev).collect()}

    h0 = int(base.timestamp()) // 3600
    hourly = {}
    for h, c in rows:
        hourly[h0 + h] = hourly.get(h0 + h, 0) + c
    ys = {h: tot // 100 for h, tot in hourly.items()}
    n = len(ys)
    sy = sum(ys.values())
    syy = sum(v * v for v in ys.values())
    den = syy - sy * sy / n
    for k in range(1, LB_MAX_LAG + 1):
        pairs = [(ys[h], ys[h - k]) for h in ys if h - k in ys]
        m = len(pairs)
        if m == 0:
            assert k not in got
            continue
        ck = sum(a * b for a, b in pairs)
        sh = sum(a for a, _ in pairs)
        stt = sum(b for _, b in pairs)
        num = ck - sy / n * (sh + stt) + m * sy * sy / n / n
        r_micro = math.floor(num / den * 1000000 + 0.5)
        assert got[k] == (m, r_micro), k


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]), min_size=2, max_size=8
            ),
        ),
        min_size=2, max_size=10,
    )
)
@PROP_SETTINGS
def test_kneser_ney_matches_bruteforce(spark, docs):
    """KN bigram cross-entropy == the textbook interpolated formula
    replayed in Python (same d=0.75, same per-bigram micro-nat
    quantization, same count-weighted integer mean)."""
    import math

    from fitness_data_ingest_spark.registry_text import kneser_ney_xent

    df = spark.createDataFrame(
        [(i, src, " ".join(toks)) for i, (src, toks) in enumerate(docs)],
        "doc_id long, source string, text string",
    )
    got = {
        r["source"]: (r["n_bigrams"], r["xent_micro"])
        for r in kneser_ney_xent(df).collect()
    }

    from collections import Counter, defaultdict

    cvw = Counter()
    src_counts = defaultdict(Counter)
    for src, toks in docs:
        for v, w in zip(toks, toks[1:]):
            cvw[(v, w)] += 1
            src_counts[src][(v, w)] += 1
    cv = Counter()
    n1p_v = Counter()
    n1p_w = Counter()
    for (v, w), c in cvw.items():
        cv[v] += c
        n1p_v[v] += 1
        n1p_w[w] += 1
    n1p_tot = len(cvw)
    nll = {
        bg: math.floor(
            -math.log(
                (cvw[bg] - 0.75) / cv[bg[0]]
                + 0.75 * n1p_v[bg[0]] / cv[bg[0]] * n1p_w[bg[1]] / n1p_tot
            )
            * 1000000
            + 0.5
        )
        for bg in cvw
    }
    want = {}
    for src, cnts in src_counts.items():
        n = sum(cnts.values())
        tot = sum(c * nll[bg] for bg, c in cnts.items())
        want[src] = (n, tot // n)
    assert got == want


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.sampled_from(["view", "purchase", "error"]),
            st.integers(min_value=0, max_value=12 * 86400),
        ),
        min_size=2, max_size=25,
        unique_by=lambda t: (t[0], t[2]),
    )
)
@PROP_SETTINGS
def test_conversion_lag_matches_bruteforce(spark, evs):
    """Exact p50/p90/p99 of the CEP gaps == the sorted replay with the
    lower-order-statistic rule."""
    import datetime as dt

    from fitness_data_ingest_spark.registry_events import (
        SEQ_WINDOW_S,
        conversion_lag_pct,
    )

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, int(u), ty, base + dt.timedelta(seconds=int(s)), 1.0)
            for i, (u, ty, s) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    row = conversion_lag_pct(ev).collect()[0]

    t0 = int(base.timestamp())
    per: dict[int, list[tuple[str, int]]] = {}
    for u, ty, s in evs:
        per.setdefault(u, []).append((ty, t0 + s))
    gaps = []
    for items in per.values():
        a_ts = sorted(s for ty, s in items if ty == "view")
        b_ts = sorted(s for ty, s in items if ty == "purchase")
        c_ts = sorted(s for ty, s in items if ty == "error")
        for ta in a_ts:
            bs = [tb for tb in b_ts if ta < tb <= ta + SEQ_WINDOW_S]
            if not bs:
                continue
            tb = min(bs)
            if any(ta < tc < tb for tc in c_ts):
                continue
            gaps.append(tb - ta)
    if not gaps:
        assert row["n_conversions"] is None
        return
    gaps.sort()
    n = len(gaps)

    def pct(k):
        cum = 0
        seen = {}
        for g in gaps:
            seen[g] = seen.get(g, 0) + 1
        for g in sorted(seen):
            cum += seen[g]
            if 100 * cum >= k * n:
                return g

    assert (row["n_conversions"], row["p50_s"], row["p90_s"], row["p99_s"]) \
        == (n, pct(50), pct(90), pct(99))


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.sampled_from(["signup", "purchase", "view"]),
            st.integers(min_value=0, max_value=5 * 86400),
        ),
        min_size=1, max_size=30,
        unique_by=lambda t: (t[0], t[2]),
    )
)
@PROP_SETTINGS
def test_proportions_ztest_matches_bruteforce(spark, evs):
    """Pooled z + Wald CI == the textbook recomputation from the same
    per-user conversion bits (first purchase within 24 h of first
    signup), including the NULL exports on empty arms and degenerate
    pooled rates."""
    import datetime as dt
    import hashlib
    import math

    from fitness_data_ingest_spark.registry_stats import _Z975, proportions_ztest

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, int(u), ty, base + dt.timedelta(seconds=int(s)), 1.0)
            for i, (u, ty, s) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    row = proportions_ztest(ev).collect()[0]

    per: dict[int, dict[str, int]] = {}
    for u, ty, s in evs:
        if ty in ("signup", "purchase"):
            d = per.setdefault(u, {})
            d[ty] = min(d.get(ty, s), s)
    stats = {0: [0, 0], 1: [0, 0]}  # arm -> [n, x]
    for u, d in per.items():
        if "signup" not in d:
            continue
        arm = int(hashlib.md5(f"arm:{u}".encode()).hexdigest()[:8], 16) % 2
        conv = 1 if "purchase" in d and d["purchase"] <= d["signup"] + 86400 else 0
        stats[arm][0] += 1
        stats[arm][1] += conv
    (n1, x1), (n2, x2) = stats[0], stats[1]
    assert (row["n1"], row["x1"], row["n2"], row["x2"]) == (n1, x1, n2, x2)

    q = lambda v: math.floor(v * 1000000 + 0.5)  # noqa: E731
    if n1 == 0 or n2 == 0:
        assert row["diff_micro"] is None and row["ci_halfwidth_micro"] is None
        assert row["z_micro"] is None
        return
    diff = x1 / n1 - x2 / n2
    assert row["diff_micro"] == q(diff)
    assert row["ci_halfwidth_micro"] == q(
        _Z975
        * math.sqrt(
            (x1 / n1) * (1 - x1 / n1) / n1 + (x2 / n2) * (1 - x2 / n2) / n2
        )
    )
    if 0 < x1 + x2 < n1 + n2:
        pp = (x1 + x2) / (n1 + n2)
        se = math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
        assert row["z_micro"] == q(diff / se)
    else:
        assert row["z_micro"] is None


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.sampled_from(["purchase", "view", "click"]),
            st.integers(min_value=1, max_value=50000),  # value cents
        ),
        min_size=1, max_size=30,
    )
)
@PROP_SETTINGS
def test_ratio_delta_ci_matches_bruteforce(spark, evs):
    """Delta-method ratio CI == the literal moment recomputation over
    the same user-grain (revenue cents, event count) pairs, including
    the n=1 NULL export."""
    import datetime as dt
    import math

    from fitness_data_ingest_spark.registry_stats import _Z975, ratio_delta_ci

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, int(u), ty, base + dt.timedelta(seconds=i), c / 100.0)
            for i, (u, ty, c) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    row = ratio_delta_ci(ev).collect()[0]

    per: dict[int, list[int]] = {}
    for i, (u, ty, c) in enumerate(evs):
        xy = per.setdefault(u, [0, 0])
        if ty == "purchase":
            xy[0] += math.floor((c / 100.0) * 100 + 0.5)
        xy[1] += 1
    n = len(per)
    sx = sum(v[0] for v in per.values())
    sy = sum(v[1] for v in per.values())
    sxx = sum(v[0] * v[0] for v in per.values())
    syy = sum(v[1] * v[1] for v in per.values())
    sxy = sum(v[0] * v[1] for v in per.values())
    assert (row["n"], row["sx"], row["sy"]) == (n, sx, sy)
    q = lambda v: math.floor(v * 1000000 + 0.5)  # noqa: E731
    assert row["ratio_micro"] == q(sx / sy)
    if n == 1:
        assert row["ci_halfwidth_micro"] is None
        return
    r = sx / sy
    ybar = sy / n
    c_xx = (sxx - sx * sx / n) / (n - 1)
    c_yy = (syy - sy * sy / n) / (n - 1)
    c_xy = (sxy - sx * sy / n) / (n - 1)
    var_r = (c_xx - 2 * r * c_xy + r * r * c_yy) / (n * ybar * ybar)
    assert row["ci_halfwidth_micro"] == q(_Z975 * math.sqrt(max(var_r, 0.0)))


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.sampled_from(["purchase", "view"]),
            st.integers(min_value=1, max_value=200000),  # value cents
        ),
        min_size=1, max_size=40,
    )
)
@PROP_SETTINGS
def test_qte_matches_bruteforce(spark, evs):
    """Exact inverse-ECDF quantiles per arm (type-1: smallest c with
    100·cum ≥ p·n, computed here by literally sorting the cents lists)
    == the bucket-prefix machinery, including NULL arms when one arm
    has no purchases."""
    import datetime as dt
    import hashlib

    from fitness_data_ingest_spark.registry_events import (
        QTE_PCTS,
        quantile_treatment_effect,
    )

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ev = spark.createDataFrame(
        [
            (i, int(u), ty, base + dt.timedelta(seconds=i), c / 100.0)
            for i, (u, ty, c) in enumerate(evs)
        ],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    rows = {r["p"]: r for r in quantile_treatment_effect(ev).collect()}

    arms: dict[int, list[int]] = {0: [], 1: []}
    for u, ty, c in evs:
        if ty == "purchase":
            arm = int(hashlib.md5(f"arm:{u}".encode()).hexdigest()[:8], 16) % 2
            # cents(c/100.0) == c exactly for integer c (the ±ulp of
            # the double division dies under floor(x + 0.5))
            arms[arm].append(c)
    for a in (0, 1):
        arms[a].sort()

    def brute(vals, p):
        if not vals:
            return None
        n = len(vals)
        for i, c in enumerate(vals, 1):
            if 100 * i >= p * n:
                return c

    if not arms[0] and not arms[1]:
        assert rows == {}
        return
    assert set(rows) == set(QTE_PCTS)
    for p in QTE_PCTS:
        q0, q1 = brute(arms[0], p), brute(arms[1], p)
        assert rows[p]["q_arm0_cents"] == q0
        assert rows[p]["q_arm1_cents"] == q1
        expect_qte = None if q0 is None or q1 is None else q1 - q0
        assert rows[p]["qte_cents"] == expect_qte


def test_theil_sen_sampled_escape_hatch_bounds_estimator_gap(spark):
    """Round-8 verdict item 4: the ``max_points`` long-span escape hatch
    (systematic decimation of the hour grain) must recover the same
    trend the exact all-pairs estimator finds, on a series where the
    trend is KNOWN: y = 5c/hour + intercept with ~12% gross outliers
    (deterministic placement, +5000c spikes). Exact Theil-Sen ignores
    the outliers and nails the slope; the decimated form (64 of 512
    points, 8x fewer pairs than exact needs) must land within one
    slope quantum (1 milli-cent/hour) of it. Also pins: default
    max_points=None leaves the registered plan untouched."""
    from fitness_data_ingest_spark.registry_events import theil_sen

    n = 512
    rows = []
    for i in range(n):
        x = 4 * i  # GAPPY hourly grid (every 4th hour): a value-modulo
        # decimation (x % stride) keeps everything when the gap divides
        # the stride — the rank-based form must still cap the points
        c = 5 * x + 300  # cents: slope 5 c/hour
        if i % 8 == 3:  # deterministic 12.5% gross outliers
            c += 5000
        # theil_sen re-derives cents via floor(value*100+0.5)
        rows.append((x * 3600 * 10**6, c / 100.0))
    ev = spark.createDataFrame(rows, "us long, value double").select(
        F.timestamp_micros("us").alias("ts"), "value"
    )
    exact = theil_sen(ev).collect()[0]
    sampled = theil_sen(ev, max_points=64).collect()[0]
    assert exact["n_points"] == n
    assert sampled["n_points"] <= 64
    assert sampled["n_pairs"] < exact["n_pairs"] / 8
    # slope is milli-cents/hour: truth = 5000
    assert exact["slope_milli"] == 5000
    assert abs(sampled["slope_milli"] - exact["slope_milli"]) <= 1
