"""Unit tests for the round-3 operators: integer-exact PageRank,
batch MERGE (CDC apply), the union-merge as-of join's edge semantics,
HOF array profile, and blocked edit-distance ER."""

from __future__ import annotations

from pyspark.sql import functions as F

from fitness_data_ingest_spark.ext.dedup import edit_distance_pairs
from fitness_data_ingest_spark.ext.similarity import array_profile
from fitness_data_ingest_spark.ops.graph import (
    RANK_UNIT,
    cooccurrence_edges,
    pagerank_int,
)
from fitness_data_ingest_spark.ops.incremental import merge_upsert
from fitness_data_ingest_spark.ops.relational import asof_join


def _pagerank_py(edges, iters=6, damp=85):
    """Python mirror of the integer recurrence (truncating division)."""
    from collections import defaultdict

    out = defaultdict(set)
    for s, d in edges:
        out[s].add(d)
    nodes = sorted(out)
    rank = {n: RANK_UNIT for n in nodes}
    base = (100 - damp) * RANK_UNIT // 100
    for _ in range(iters):
        contrib = defaultdict(int)
        for s in nodes:
            c = rank[s] // len(out[s])
            for d in out[s]:
                contrib[d] += c
        rank = {n: base + contrib[n] * damp // 100 for n in nodes}
    return rank


def test_pagerank_matches_python_mirror(spark):
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 1), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_micro for r in pagerank_int(df, iters=6).collect()}
    assert got == _pagerank_py(edges)


def test_pagerank_sink_heavy_node_ranks_highest(spark):
    # star graph: every spoke links the hub (and back)
    edges = [(h, 0) for h in range(1, 9)] + [(0, h) for h in range(1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_micro for r in pagerank_int(df, iters=8).collect()}
    assert got[0] > max(v for n, v in got.items() if n != 0)


def test_cooccurrence_edges_symmetric_and_distinct(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, 10), (2, 11), (3, 12)],
        "g long, i long",
    )
    got = {(r.src, r.dst) for r in cooccurrence_edges(df, "g", "i").collect()}
    assert got == {(10, 11), (11, 10)}  # the duplicate pair collapses; singleton drops


def test_merge_upsert_semantics(spark):
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    chg = spark.createDataFrame(
        [(2, "B", 99.0, "U"), (3, None, 0.0, "D"), (9, "i", 1.0, "I")],
        "k long, s string, v double, op string",
    )
    got = {r.k: (r.s, r.v) for r in merge_upsert(snap, chg, "k").collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 9: ("i", 1.0)}


def test_asof_join_equal_ts_matches_and_tiebreak(spark):
    left = spark.createDataFrame([(1, 100, 7)], "user_id long, p_ts long, p_id long")
    right = spark.createDataFrame(
        [(1, 100, 51), (1, 100, 52), (1, 99, 40), (1, 101, 60)],
        "user_id long, c_ts long, c_id long",
    )
    row = asof_join(left, right, "user_id", "p_ts", "c_ts", "p_id", "c_id").collect()[0]
    # <= semantics: the equal-ts right row is visible; right_id desc tie-break
    assert row.c_id == 52


def test_asof_join_unmatched_left_keeps_nulls(spark):
    left = spark.createDataFrame([(1, 50, 7)], "user_id long, p_ts long, p_id long")
    right = spark.createDataFrame([(1, 99, 40)], "user_id long, c_ts long, c_id long")
    row = asof_join(left, right, "user_id", "p_ts", "c_ts", "p_id", "c_id").collect()[0]
    assert row.c_id is None and row.c_ts is None and row.p_id == 7


def test_array_profile_exact(spark):
    df = spark.createDataFrame([(1, [0.5, -0.25, 0.0])], "vec_id long, embedding array<double>")
    r = array_profile(df).collect()[0]
    assert (r.n_dims, r.n_pos, r.l1_micro, r.max_micro) == (3, 1, 750000, 500000)


def test_edit_distance_pairs_blocked(spark):
    df = spark.createDataFrame(
        [("red gear",), ("blue gear",), ("red bolt",)], "p_name string"
    )
    out = edit_distance_pairs(
        df, "p_name", F.substring_index(F.col("p_name"), " ", -1), 4
    ).collect()
    # cross-block pairs never form, even when close in edit distance
    assert {(r.name_a, r.name_b, r.dist) for r in out} == {("blue gear", "red gear", 4)}


def test_sq8_codes_bounds_and_nearest(spark):
    from fitness_data_ingest_spark.ext.similarity import sq8_codes, sq8_topk

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (10, [0.1, 0.9]), (11, [1.0, 0.0]), (12, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    codes = {r.vec_id: r.c for r in sq8_codes(df).collect()}
    assert all(0 <= v <= 255 for c in codes.values() for v in c)
    assert codes[0] == [0, 255]  # corpus min/max pin the code range ends
    top = sq8_topk(df, F.col("vec_id") < 10, k=3).collect()
    assert [r.cand_id for r in sorted(top, key=lambda r: r.rnk)] == [10, 12, 11]


def test_asof_join_matches_bruteforce_on_random_series(spark):
    """The union-merge as-of formulation must agree with the O(n²)
    brute-force argmax definition on a seeded random interleaving,
    including duplicate timestamps on both sides."""
    import random

    rng = random.Random(42)
    lefts = [(rng.randrange(4), rng.randrange(30), 1000 + i) for i in range(120)]
    rights = [(rng.randrange(4), rng.randrange(30), 2000 + i) for i in range(120)]
    ldf = spark.createDataFrame(lefts, "k long, l_ts long, l_id long")
    rdf = spark.createDataFrame(rights, "k long, r_ts long, r_id long")
    got = {
        r.l_id: r.r_id
        for r in asof_join(ldf, rdf, "k", "l_ts", "r_ts", "l_id", "r_id").collect()
    }
    for k, l_ts, l_id in lefts:
        cands = [(r_ts, r_id) for rk, r_ts, r_id in rights if rk == k and r_ts <= l_ts]
        want = max(cands)[1] if cands else None
        assert got[l_id] == want, (l_id, got[l_id], want)


def test_triangle_stats_on_known_graph(spark):
    from fitness_data_ingest_spark.ops.graph import triangle_stats

    # K3 (1,2,3) plus a pendant 4-1 and an open wedge 4-5 via 1
    und = [(1, 2), (1, 3), (2, 3), (1, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    rows = {r.node: (r.deg, r.n_tri, r.cc4) for r in triangle_stats(edges).collect()}
    assert rows[2] == (2, 1, 1.0) and rows[3] == (2, 1, 1.0)
    assert rows[1] == (3, 1, 0.3333)
    assert 4 not in rows  # degree 1 < min_degree


def test_downsample_maxarea_keeps_the_spike(spark):
    from fitness_data_ingest_spark.ops.timeseries import downsample_maxarea

    # three buckets of flat signal, with one spike mid-middle-bucket:
    # the representative of the middle bucket must be the spike point
    rows = []
    eid = 0
    for b in range(3):
        for i in range(10):
            ts = b * 60 + i * 6
            v = 100.0 if (b == 1 and i == 5) else 1.0
            rows.append((7, eid, ts, v))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, event_id long, sec long, value double")
    ev = df.selectExpr("user_id", "event_id", "timestamp_seconds(sec) AS ts", "value")
    out = downsample_maxarea(ev, bucket_s=60).collect()
    assert len(out) == 1  # only the middle bucket has both neighbors
    assert out[0].rep_id == 15  # the spike (b=1, i=5)


def test_triangle_stats_matches_bruteforce_on_random_graph(spark):
    """Degree-ordered (compact-forward) enumeration must equal a
    brute-force all-triples count on a seeded random graph — the
    orientation changes the JOIN shape, never the triangle set."""
    import itertools
    import random

    from fitness_data_ingest_spark.ops.graph import triangle_stats

    rng = random.Random(42)
    nodes = list(range(24))
    und = sorted(
        {(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.25}
    )
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    want_tri = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want_tri[n] += 1
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: (r.deg, r.n_tri) for r in triangle_stats(edges).collect()}
    want = {
        n: (len(adj[n]), want_tri[n]) for n in nodes if len(adj[n]) >= 2
    }
    assert got == want


def test_isotonic_fit_matches_minimax_reference(spark):
    """PAVA (the registered applyInPandas kernel) must equal the
    independent O(n²) minimax characterization of isotonic regression:
    fitted_i = max_{j<=i} min_{k>=i} mean(v[j..k]). Also: output is
    non-decreasing per user and preserves each pooled block's mean."""
    import math
    import random

    from fitness_data_ingest_spark.ops.timeseries import isotonic_fit

    rng = random.Random(11)
    rows = []
    eid = 0
    for uid in range(4):
        for i in range(rng.randrange(5, 40)):
            rows.append(
                (eid, uid, f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00",
                 round(rng.uniform(0, 50), 2))
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["user_id"], r["event_id"]): r["fitted4"]
        for r in isotonic_fit(ev).collect()
    }
    by_user: dict[int, list] = {}
    for eid_, uid, _, v in rows:
        by_user.setdefault(uid, []).append((eid_, math.floor(v * 100 + 0.5)))
    for uid, seq in by_user.items():
        cents = [c for _, c in seq]
        n = len(cents)
        prefix = [0]
        for c in cents:
            prefix.append(prefix[-1] + c)
        mean = lambda j, k: (prefix[k + 1] - prefix[j]) / (k - j + 1)  # noqa: E731
        fitted_ref = []
        for i in range(n):
            best = -float("inf")
            for j in range(i + 1):
                m = min(mean(j, k) for k in range(i, n))
                best = max(best, m)
            fitted_ref.append(math.floor(best / 100.0 * 10000 + 0.5) / 10000.0)
        prev = -float("inf")
        for idx, (eid_, _) in enumerate(seq):
            assert got[(uid, eid_)] == fitted_ref[idx], (uid, eid_)
            assert got[(uid, eid_)] >= prev
            prev = got[(uid, eid_)]


def test_isotonic_fit_carries_user_runs_across_arrow_batches(spark):
    """With 7-row Arrow batches every user below (9-29 rows each) spans
    at least two batches of its partition; the fit must equal the
    one-batch result. Rows with a NULL user_id form one series of their
    own, as under GROUP BY user_id: they fit exactly as the same rows
    do under a real user id."""
    import random

    from fitness_data_ingest_spark.ops.timeseries import isotonic_fit

    rng = random.Random(23)
    rows = []
    eid = 0
    for uid in (None, 0, 1, 2, 3, 4, 5):
        for i in range(rng.randrange(9, 30)):
            rows.append(
                (eid, uid, f"2024-01-01 00:{i:02d}:00", round(rng.uniform(0, 50), 2))
            )
            eid += 1
    schema = "event_id long, user_id long, ts string, value double"

    def fit(rows) -> dict:
        ev = spark.createDataFrame(rows, schema).withColumn("ts", F.to_timestamp("ts"))
        return {
            r["event_id"]: (r["user_id"], r["fitted4"]) for r in isotonic_fit(ev).collect()
        }

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "100000")
        one_batch = fit(rows)
        spark.conf.set(key, "7")
        small_batches = fit(rows)
    finally:
        spark.conf.set(key, saved)
    assert len(one_batch) == len(rows)
    assert small_batches == one_batch
    null_ids = {r[0] for r in rows if r[1] is None}
    as_user = fit([(e, 99 if u is None else u, ts, v) for e, u, ts, v in rows])
    for e, (uid, fitted) in one_batch.items():
        assert uid is None if e in null_ids else uid == as_user[e][0]
        assert fitted == as_user[e][1], e


def test_interval_overlap_bucketing_matches_bruteforce(spark):
    """The bucketed-equi overlap join must find EXACTLY the pairs a
    brute-force O(n^2) scan finds — bucket width == max interval
    length guarantees overlapping intervals share a bucket, so no
    candidate is lost and the distinct collapses double collisions."""
    import itertools
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    span = 1200 * 1_000_000
    w = span

    def bucketed(df, s, e):
        return df.withColumn(
            "bkt",
            F.explode(F.sequence(F.floor(F.col(s) / w), F.floor(F.col(e) / w))),
        )

    rows_a, rows_b = [], []
    for i in range(60):
        u = rng.randrange(3)
        t0 = rng.randrange(0, 20) * 300 * 1_000_000  # 5-min grid, forces ties
        (rows_a if i % 2 == 0 else rows_b).append((u, i, t0, t0 + span))
    a = spark.createDataFrame(rows_a, "user_id long, a_id long, a_s long, a_e long")
    b = spark.createDataFrame(rows_b, "user_id long, b_id long, b_s long, b_e long")
    got = {
        (r["a_id"], r["b_id"])
        for r in bucketed(a, "a_s", "a_e")
        .join(bucketed(b, "b_s", "b_e"), ["user_id", "bkt"])
        .filter((F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .select("a_id", "b_id")
        .distinct()
        .collect()
    }
    want = {
        (ua[1], ub[1])
        for ua, ub in itertools.product(rows_a, rows_b)
        if ua[0] == ub[0] and ua[2] < ub[3] and ub[2] < ua[3]
    }
    assert got == want and len(want) > 0


def test_peak_concurrency_matches_bruteforce(spark):
    """Sweep-line peak must equal a brute-force per-instant maximum on
    a random interval set, including boundary ties (half-open: an
    interval ending exactly when another starts does NOT overlap)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(9)
    span = 7
    ivals = []
    for i in range(50):
        u = rng.randrange(3)
        s = rng.randrange(0, 30)
        ivals.append((u, s, s + span))
    base = spark.createDataFrame(ivals, "user_id long, s long, e long")
    deltas = base.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionByName(base.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["user_id"]: r["peak"]
        for r in deltas.withColumn("level", F.sum("d").over(w))
        .groupBy("user_id")
        .agg(F.max("level").alias("peak"))
        .collect()
    }
    for u in {iv[0] for iv in ivals}:
        mine = [iv for iv in ivals if iv[0] == u]
        want = max(
            sum(1 for s, e in [(i[1], i[2]) for i in mine] if s <= t < e)
            for t in range(0, 40)
        )
        assert got[u] == want, (u, got[u], want)
