"""Graph analytics over the lineitem co-occurrence graph and the event
graph: PageRank, components, triangles, k-core, HITS, BFS, link
prediction, modularity (``graph_*``) and item affinity
(``affinity_*``).

Most keys read the co-occurrence edge set from the materialized
``registry_util.shared_cooccurrence_edges`` stage; the oracles
recompute it relationally from ``PR_EDGES_CTE``. Iterations are
integer-exact, so results do not depend on partitioning.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ext import corpus as C
from .ops import graph as G
from .registry_util import PR_EDGES_CTE, QueryDef, shared_cooccurrence_edges, t


def _affinity_part_pairs(spark, sf_dir):
    """Market-basket affinity: top co-occurring part pairs within
    orders; self equi-join bounded by per-order line count."""
    return C.cooccurrence_topk(
        t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )


_AFFINITY_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
pr AS (SELECT a.item AS item_a, b.item AS item_b
       FROM d a JOIN d b ON a.g = b.g AND a.item < b.item),
agg AS (SELECT item_a, item_b, count(*) AS n_groups FROM pr GROUP BY 1, 2),
top AS (SELECT * FROM agg ORDER BY n_groups DESC, item_a, item_b LIMIT 25)
SELECT item_a, item_b, n_groups,
       row_number() OVER (ORDER BY n_groups DESC, item_a, item_b) AS rnk
FROM top
"""


# ------------------------------------------------------------ PAGERANK

_PR_ITERS = 6


def _graph_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the part co-occurrence graph
    (parts sharing >= 2 orders — the single-co-occurrence noise tail
    drops), 6 iterations of the int64 micro-unit
    recurrence — bit-identical to the unrolled SQL oracle under any
    partitioning because every per-node reduction is an integer sum.
    Edges come from the materialized shared stage (one build per
    process for the whole graph family — registry_util.
    shared_cooccurrence_edges); the iterative consumer re-persists its
    own degree-joined form as before."""
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return G.pagerank_int(edges, iters=_PR_ITERS, symmetric=True)


_PR_SQL = G.pagerank_oracle_sql(PR_EDGES_CTE, iters=_PR_ITERS)


def _graph_triangles(spark, sf_dir):
    """Per-node triangle count + local clustering coefficient over the
    thresholded part co-occurrence graph: degree-ordered
    (compact-forward) wedge join — oriented out-degree is O(sqrt(m))
    per node, capping fan-out on skewed degree distributions — each
    triangle credited to its three corners in one union + groupBy. The
    oracle enumerates via the simpler id-canonical form; the triangle
    SET is identical. Edges: the materialized shared stage."""
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return G.triangle_stats(edges)


_TRI_SQL = f"""
WITH edges AS ({PR_EDGES_CTE}),
ce AS (SELECT src, dst FROM edges WHERE src < dst),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM ce e1 JOIN ce e2 ON e1.dst = e2.src
        JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst),
corners AS (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri),
tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM corners GROUP BY 1)
SELECT d.node, d.deg, CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
       floor(CAST(COALESCE(t.n_tri, 0) AS DOUBLE) * 2.0
             / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))
             * 10000 + 0.5) / 10000.0 AS cc4
FROM deg d LEFT JOIN tc t ON d.node = t.node
WHERE d.deg >= 2
"""


# ------------------------------------------------------------------ LIFT


def _affinity_lift_topk(spark, sf_dir):
    """Top-25 part pairs by association LIFT (popularity-corrected
    co-occurrence) over order baskets."""
    return C.cooccurrence_lift_topk(
        t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )


_LIFT_SQL = """
WITH gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
  GROUP BY 1, 2 HAVING count(*) >= 2),
sup AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM gi GROUP BY 1),
ng AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_g FROM gi),
scored AS (
  SELECT item_a, item_b, n_ab,
         floor(CAST(n_ab AS DOUBLE) * CAST(n_g AS DOUBLE)
               / (CAST(sa.n_i AS DOUBLE) * CAST(sb.n_i AS DOUBLE))
               * 10000 + 0.5) / 10000.0 AS lift4
  FROM pairs JOIN sup sa ON sa.i = pairs.item_a
             JOIN sup sb ON sb.i = pairs.item_b, ng)
SELECT CAST(row_number() OVER (ORDER BY lift4 DESC, item_a, item_b) AS INT)
         AS rnk,
       item_a, item_b, n_ab, lift4
FROM scored
ORDER BY lift4 DESC, item_a, item_b LIMIT 25
"""


# ------------------------------------------- COMMON-NEIGHBOR LINK PREDICTION

# Wedge-center degree cap: hubs contribute deg^2 candidate pairs while
# carrying near-zero link-prediction signal (every pair shares the hub)
# — the standard practice is to drop or downweight them. The cap bounds
# per-center fan-out at CAP^2 regardless of degree skew, the same
# blowup-guard discipline as dedup's DF>100 hot-shingle filter.
LP_HUB_CAP = 64

LP_TOPK = 20


def link_predict(edges, topk: int = LP_TOPK, hub_cap: int = LP_HUB_CAP):
    """Common-neighbor link prediction over a symmetric edge list: for
    every NON-adjacent node pair, count shared neighbors and return the
    top-``topk`` strongest candidates — the classic graph-completion /
    recommendation primitive (Liben-Nowell & Kleinberg 2003).

    Scale shape: candidates come from a wedge equi-join through the
    shared neighbor (mid) — never an all-pairs scan; wedge centers with
    degree > ``hub_cap`` are excluded (documented above), so per-center
    fan-out is bounded under power-law skew; existing edges drop via a
    fingerprint-grain anti-join; top-k is a distributed
    TakeOrderedAndProject. Degrees ride back on two broadcast joins of
    the node-grain degree table."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= hub_cap).select("src")
    ce = edges.join(centers, "src")
    e1 = ce.select(F.col("src").alias("mid"), F.col("dst").alias("a"))
    e2 = ce.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    wedges = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    existing = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cand = wedges.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select("a", "b", "common_neighbors", "deg_a", "deg_b")
        .orderBy(F.desc("common_neighbors"), F.asc("a"), F.asc("b"))
        .limit(topk)
    )


def _graph_link_predict(spark, sf_dir):
    # materialized shared edge stage (one build per process for the
    # whole graph family). Historical note: with the edges recomputed
    # inline, an explicit cache measured SLOWER here (4.1 s vs 3.1 s —
    # all four consumers sit in one job, so ReusedExchange already
    # shared the build's shuffle); the shared parquet stage beats both
    # by paying the build once per PROCESS, not per key.
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return link_predict(edges)


_LP_EDGES_CTE = """
SELECT a.i AS src, b.i AS dst
FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) b
  ON a.g = b.g AND a.i <> b.i
GROUP BY 1, 2 HAVING count(*) >= 2
"""

_LP_SQL = f"""
WITH edges AS ({_LP_EDGES_CTE}),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
ce AS (SELECT e.src, e.dst FROM edges e
       JOIN deg ON deg.src = e.src AND deg.deg <= {LP_HUB_CAP}),
wedges AS (
  SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM ce e1 JOIN ce e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2
),
cand AS (
  SELECT w.* FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM edges x
                    WHERE x.src = w.a AND x.dst = w.b)
)
SELECT c.a, c.b, c.common_neighbors, da.deg AS deg_a, db.deg AS deg_b
FROM cand c JOIN deg da ON da.src = c.a JOIN deg db ON db.src = c.b
ORDER BY c.common_neighbors DESC, c.a ASC, c.b ASC
LIMIT {LP_TOPK}
"""


# ------------------------------------------- LABEL PROPAGATION (LPA)


def _graph_label_propagation(spark, sf_dir):
    """Synchronous label-propagation community detection over the part
    co-occurrence graph (the graph_pagerank/graph_triangles edge set) —
    see ops.graph.label_propagation for the zero-per-round-exchange
    argument and why the SYNC variant is the only reproducible one."""
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return G.label_propagation(edges)


def _lpa_sql() -> str:
    edges_cte = """
SELECT a.i AS src, b.i AS dst
FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) b
  ON a.g = b.g AND a.i <> b.i
GROUP BY 1, 2 HAVING count(*) >= 2
"""
    return G.label_propagation_oracle_sql(edges_cte, rounds=3)


# --------------------------------------------------- K-CORE PEELING

KCORE_K = 2

KCORE_ROUNDS = 3


def _graph_kcore_peel(spark, sf_dir):
    """k-core peeling profile over the part co-occurrence graph (the
    pagerank/triangles/LPA edge set) — see ops.graph.kcore_peel for
    the zero-per-round-exchange argument. k=2 is calibrated to the
    fixtures (real peel dynamics: removals every round, non-empty
    core at every SF: sf0.1 peels 5922 -> 1067 -> 138 -> 22), and the
    per-round removal curve is the graph-cleaning
    number: how much of the graph is shell vs core."""
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return G.kcore_peel(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def _kcore_sql() -> str:
    edges_cte = """
SELECT a.i AS src, b.i AS dst
FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) b
  ON a.g = b.g AND a.i <> b.i
GROUP BY 1, 2 HAVING count(*) >= 2
"""
    return G.kcore_oracle_sql(edges_cte, k=KCORE_K, rounds=KCORE_ROUNDS)


HITS_ITERS = 3

HITS_TOPK = 12


def hits_bipartite(edges, iters: int = HITS_ITERS, topk: int = HITS_TOPK):
    """HITS hubs/authorities (Kleinberg 1999) over a directed bipartite
    edge list (``hub``, ``auth``), integer-exact: unnormalized scores
    after k mutual-reinforcement rounds are path COUNTS (hub_k = number
    of alternating paths of length 2k leaving the hub), so the whole
    iteration is int64 with no scaling division at all — the same
    discipline as pagerank_int, minus even the truncating div.

    Top-k per side via TakeOrderedAndProject (limit-then-rank, never a
    global window); ranks from a 2k-row broadcast self-join.

    Scale shape: the edge table persists once; each half-round is one
    broadcast join (rank tables are node-grain) + one
    map-side-combinable aggregate; localCheckpoint truncates the
    per-round lineage exactly as the PageRank loop does.

    Edge contract: the input is treated as a distinct (hub, auth) edge
    SET — duplicate edges are collapsed before iterating, so a
    multigraph edge list does NOT get weighted reinforcement. Callers
    wanting edge weights must pre-aggregate them upstream (both in-repo
    callers pass distinct-safe inputs)."""
    # pre-partition the cached edges by auth ONCE (the pagerank trick):
    # the per-round broadcast join preserves the stream side's
    # partitioning, so all 3 auth-grain aggregates run with ZERO
    # exchange — 6 edge shuffles collapse to 3 (+1 up-front). The edge
    # SET dedup rides the same exchange (r11): hashpartitioning(auth)
    # satisfies the (hub, auth)-clustered distribution the distinct
    # aggregate needs, so dedup-after-repartition is exchange-free —
    # callers pass the raw projection and the old separate
    # distinct-then-repartition double shuffle collapses to one.
    ed = edges.repartition("auth").dropDuplicates(["hub", "auth"]).persist()
    # round 1's auth half-step needs NO join (r12): every hub seeds at
    # hs=1, so sum(hs) per auth is exactly the auth's distinct-edge
    # count — a direct aggregate that rides the auth-keyed partitioning
    # with zero exchange, and the hub-distinct seed table (one exchange
    # + one broadcast build) disappears. Values identical: the seed
    # table contained every hub present in ed.
    hub = None
    auth = None
    for i in range(iters):
        if i == 0:
            auth = ed.groupBy("auth").agg(F.count(F.lit(1)).alias("as_"))
        else:
            auth = (
                ed.join(F.broadcast(hub), "hub")
                .groupBy("auth")
                .agg(F.sum("hs").alias("as_"))
            )
        hub = (
            ed.join(F.broadcast(auth), "auth")
            .groupBy("hub")
            .agg(F.sum("as_").alias("hs"))
        )
        hub = hub.localCheckpoint(eager=False)
        auth = auth.localCheckpoint(eager=False)
    top_h = (
        hub.orderBy(F.col("hs").desc(), F.col("hub"))
        .limit(topk)
        .select(
            F.lit("hub").alias("side"),
            F.col("hub").alias("node"),
            F.col("hs").alias("score"),
        )
    )
    top_a = (
        auth.orderBy(F.col("as_").desc(), F.col("auth"))
        .limit(topk)
        .select(
            F.lit("auth").alias("side"),
            F.col("auth").alias("node"),
            F.col("as_").alias("score"),
        )
    )
    both = top_h.unionByName(top_a)
    b2 = both.select(
        F.col("side").alias("s2"), F.col("node").alias("n2"), F.col("score").alias("sc2")
    )
    return (
        both.join(
            F.broadcast(b2),
            (F.col("s2") == F.col("side"))
            & (
                (F.col("sc2") > F.col("score"))
                | ((F.col("sc2") == F.col("score")) & (F.col("n2") < F.col("node")))
            ),
            "left",
        )
        .groupBy("side", "node", "score")
        .agg((F.count("n2") + 1).alias("rnk"))
        .orderBy("side", "rnk")
    )


def _graph_hits(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # raw projection: hits_bipartite dedups on its own auth-keyed
    # exchange, so a distinct here would only add a second shuffle
    edges = li.select(
        F.col("l_suppkey").alias("hub"), F.col("l_partkey").alias("auth")
    )
    return hits_bipartite(edges)


def _hits_sql(iters: int = HITS_ITERS, topk: int = HITS_TOPK) -> str:
    parts = [
        "WITH ed AS (SELECT DISTINCT l_suppkey AS hub, l_partkey AS auth"
        " FROM lineitem),",
        "h0 AS (SELECT DISTINCT hub, CAST(1 AS BIGINT) AS hs FROM ed)",
    ]
    for i in range(iters):
        parts.append(
            f", a{i + 1} AS (SELECT ed.auth, CAST(sum(h.hs) AS BIGINT) AS as_"
            f" FROM ed JOIN h{i} h ON ed.hub = h.hub GROUP BY ed.auth)"
        )
        parts.append(
            f", h{i + 1} AS (SELECT ed.hub, CAST(sum(a.as_) AS BIGINT) AS hs"
            f" FROM ed JOIN a{i + 1} a ON ed.auth = a.auth GROUP BY ed.hub)"
        )
    parts.append(
        f""", top_h AS (
  SELECT 'hub' AS side, hub AS node, hs AS score
  FROM h{iters} ORDER BY hs DESC, hub LIMIT {topk}
),
top_a AS (
  SELECT 'auth' AS side, auth AS node, as_ AS score
  FROM a{iters} ORDER BY as_ DESC, auth LIMIT {topk}
),
both_t AS (SELECT * FROM top_h UNION ALL SELECT * FROM top_a)
SELECT a.side, a.node, a.score, CAST(1 + count(b.node) AS BIGINT) AS rnk
FROM both_t a LEFT JOIN both_t b
  ON b.side = a.side
 AND (b.score > a.score OR (b.score = a.score AND b.node < a.node))
GROUP BY a.side, a.node, a.score
ORDER BY a.side, rnk"""
    )
    return "\n".join(parts)


NJ_TOPK = 20

NJ_HUB_CAP = 120


def neighborhood_jaccard(edges, topk: int = NJ_TOPK, hub_cap: int = NJ_HUB_CAP):
    """Top-k node pairs by neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)|
    — the node-similarity primitive behind role discovery and
    merge-candidate ranking (link_predict's sibling: existing edges
    stay IN, because similarity is not completion).  The intersection
    counts paths through wedge centers of degree ≤ hub_cap (the same
    bounded-fan-out trade graph_link_predict documents); the oracle
    mirrors the cap, so the approximation is pinned, not silent.

    Exactness: jacc_micro = 1e6·common div (deg_a + deg_b − common) is
    pure int64.  Scale shape: wedge equi-join through capped centers,
    degree table broadcast back, top-k via TakeOrderedAndProject."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= hub_cap).select("src")
    ce = edges.join(centers, "src")
    e1 = ce.select(F.col("src").alias("mid"), F.col("dst").alias("a"))
    e2 = ce.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    pairs = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    scored = (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            "deg_a",
            "deg_b",
            F.expr("1000000 * common div (deg_a + deg_b - common)").alias(
                "jacc_micro"
            ),
        )
    )
    top = scored.orderBy(
        F.desc("jacc_micro"), F.asc("a"), F.asc("b")
    ).limit(topk)
    t2 = top.select(
        F.col("jacc_micro").alias("j2"), F.col("a").alias("a2"), F.col("b").alias("b2")
    )
    return (
        top.join(
            F.broadcast(t2),
            (F.col("j2") > F.col("jacc_micro"))
            | (
                (F.col("j2") == F.col("jacc_micro"))
                & (
                    (F.col("a2") < F.col("a"))
                    | ((F.col("a2") == F.col("a")) & (F.col("b2") < F.col("b")))
                )
            ),
            "left",
        )
        .groupBy("a", "b", "common", "deg_a", "deg_b", "jacc_micro")
        .agg((F.count("a2") + 1).alias("rnk"))
        .orderBy("rnk")
    )


def _graph_neighborhood_jaccard(spark, sf_dir):
    edges = shared_cooccurrence_edges(spark, sf_dir, item_col="l_suppkey")
    return neighborhood_jaccard(edges)


_NJ_SQL = f"""
WITH edges AS (
  SELECT a.i AS src, b.i AS dst
  FROM (SELECT DISTINCT l_orderkey AS g, l_suppkey AS i FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey AS g, l_suppkey AS i FROM lineitem) b
    ON a.g = b.g AND a.i <> b.i
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
ce AS (SELECT e.* FROM edges e JOIN deg d ON e.src = d.src
       WHERE d.deg <= {NJ_HUB_CAP}),
pairs AS (
  SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
  FROM ce e1 JOIN ce e2 ON e1.src = e2.src AND e1.dst < e2.dst
  GROUP BY 1, 2
),
scored AS (
  SELECT p.a, p.b, p.common, da.deg AS deg_a, db.deg AS deg_b,
         1000000 * p.common // (da.deg + db.deg - p.common) AS jacc_micro
  FROM pairs p JOIN deg da ON p.a = da.src JOIN deg db ON p.b = db.src
),
top AS (
  SELECT * FROM scored ORDER BY jacc_micro DESC, a, b LIMIT {NJ_TOPK}
)
SELECT x.a, x.b, x.common, x.deg_a, x.deg_b, x.jacc_micro,
       CAST(1 + count(y.a) AS BIGINT) AS rnk
FROM top x LEFT JOIN top y
  ON y.jacc_micro > x.jacc_micro
  OR (y.jacc_micro = x.jacc_micro AND (y.a < x.a OR (y.a = x.a AND y.b < x.b)))
GROUP BY x.a, x.b, x.common, x.deg_a, x.deg_b, x.jacc_micro
ORDER BY rnk
"""

BFS_SEED_MOD = 37

BFS_SEED_REM = 1

BFS_ROUNDS = 4


def _graph_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop profile over the part co-occurrence graph
    (the pagerank/triangles/kcore edge set) — see ops.graph.bfs_hops
    for the zero-per-round-exchange argument. The per-hop newly-reached
    curve is the blast-radius number: how fast influence (or
    contamination) spreads from the seed set."""
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return G.bfs_hops(
        edges, seed_mod=BFS_SEED_MOD, seed_rem=BFS_SEED_REM,
        rounds=BFS_ROUNDS,
    )


_BFS_EDGES_CTE = """
SELECT a.i AS src, b.i AS dst
FROM (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem) b
  ON a.g = b.g AND a.i <> b.i
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _bfs_sql() -> str:
    return G.bfs_oracle_sql(
        _BFS_EDGES_CTE, seed_mod=BFS_SEED_MOD, seed_rem=BFS_SEED_REM,
        rounds=BFS_ROUNDS,
    )


def assortativity(edges):
    """Degree-assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees across edges — do hubs link to hubs
    (r > 0) or to leaves (r < 0)? The one-number structural fingerprint
    that distinguishes social-style from web-style co-occurrence
    graphs.

    Exactness: all six moment sums are int64 over exact degrees; r is
    one double expression over them, micro-quantized. Scale shape: one
    degree aggregate at the node grain, two node-grain equi-joins to
    tag each edge with (deg_src, deg_dst), one moment aggregate — the
    edge table is scanned once after the degree build."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    tagged = (
        edges.join(deg.select(F.col("src").alias("_s"), F.col("d").alias("dj")),
                   F.col("src") == F.col("_s"))
        .join(deg.select(F.col("src").alias("_t"), F.col("d").alias("dk")),
              F.col("dst") == F.col("_t"))
        .select("dj", "dk")
    )
    mom = tagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dj").alias("sj"),
        F.sum("dk").alias("sk"),
        F.sum(F.col("dj") * F.col("dj")).alias("sjj"),
        F.sum(F.col("dk") * F.col("dk")).alias("skk"),
        F.sum(F.col("dj") * F.col("dk")).alias("sjk"),
    )
    num = (
        F.col("m").cast("double") * F.col("sjk").cast("double")
        - F.col("sj").cast("double") * F.col("sk").cast("double")
    )
    den = F.sqrt(
        (
            F.col("m").cast("double") * F.col("sjj").cast("double")
            - F.col("sj").cast("double") * F.col("sj").cast("double")
        )
        * (
            F.col("m").cast("double") * F.col("skk").cast("double")
            - F.col("sk").cast("double") * F.col("sk").cast("double")
        )
    )
    return mom.select(
        F.col("m").alias("n_edges"),
        "sj",
        "sjk",
        F.when(
            (
                F.col("m") * F.col("sjj") - F.col("sj") * F.col("sj") > 0
            )
            & (F.col("m") * F.col("skk") - F.col("sk") * F.col("sk") > 0),
            F.floor(num / den * 1000000 + F.lit(0.5)),
        ).alias("assort_micro"),
    )


def _graph_assortativity(spark, sf_dir):
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return assortativity(edges)


_ASSORT_SQL = f"""
WITH edges AS ({_BFS_EDGES_CTE}),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
tagged AS (
  SELECT a.d AS dj, b.d AS dk
  FROM edges e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(dj) AS BIGINT) AS sj, CAST(sum(dk) AS BIGINT) AS sk,
         CAST(sum(dj * dj) AS BIGINT) AS sjj,
         CAST(sum(dk * dk) AS BIGINT) AS skk,
         CAST(sum(dj * dk) AS BIGINT) AS sjk
  FROM tagged
)
SELECT m AS n_edges, sj, sjk,
       CASE WHEN m * sjj - sj * sj > 0 AND m * skk - sk * sk > 0
            THEN CAST(floor((CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
                             - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
                            / sqrt((CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
                                    - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                                   * (CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
                                      - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)))
                            * 1000000 + 0.5) AS BIGINT) END AS assort_micro
FROM mom
"""

MOD_ROUNDS = 3


def modularity(edges, labels):
    """Newman modularity Q of a community assignment over a symmetric
    edge list: Q = sum_c (e_c/m2 - (d_c/m2)^2), with e_c the
    within-community directed-edge count and d_c the community degree
    sum — the number that says whether the detected communities are
    real structure or noise (Q ~ 0).

    Exactness: e_c and d_c are int64; each community's term is ONE
    double expression over them, micro-quantized per community before
    the sum (fold-order rule). Scale shape: two broadcast label joins
    tag every edge, one aggregate per grain — the edge table is
    scanned once, and the label table is node-grain (broadcast like
    LPA's own rounds)."""
    m2 = edges.agg(F.count(F.lit(1)).alias("m2"))
    tagged = (
        edges.join(
            F.broadcast(
                labels.select(F.col("node").alias("_s"), F.col("lbl").alias("ls"))
            ),
            F.col("src") == F.col("_s"),
        )
        .join(
            F.broadcast(
                labels.select(F.col("node").alias("_t"), F.col("lbl").alias("lt"))
            ),
            F.col("dst") == F.col("_t"),
        )
        .select("ls", "lt")
    )
    per_c = tagged.groupBy(F.col("ls").alias("c")).agg(
        F.count(F.lit(1)).alias("d_c"),
        F.sum(F.when(F.col("lt") == F.col("ls"), 1).otherwise(0)).alias("e_c"),
    )
    terms = per_c.join(F.broadcast(m2)).select(
        "c",
        "d_c",
        "e_c",
        F.floor(
            (
                F.col("e_c").cast("double") / F.col("m2").cast("double")
                - F.col("d_c").cast("double")
                / F.col("m2").cast("double")
                * F.col("d_c").cast("double")
                / F.col("m2").cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).alias("term_micro"),
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("d_c").alias("max_degree_sum"),
        F.sum("e_c").alias("intra_edges"),
        F.sum("term_micro").alias("q_micro"),
    )


def _graph_modularity(spark, sf_dir):
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return modularity(edges, G.lpa_labels(edges, rounds=MOD_ROUNDS))


def _modularity_sql() -> str:
    prefix = G.lpa_labels_oracle_cte(_BFS_EDGES_CTE, rounds=MOD_ROUNDS)
    return (
        prefix
        + f"""
m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
tagged AS (
  SELECT a.lbl AS ls, b.lbl AS lt
  FROM edges e
  JOIN l{MOD_ROUNDS} a ON e.src = a.node
  JOIN l{MOD_ROUNDS} b ON e.dst = b.node
),
per_c AS (
  SELECT ls AS c, CAST(count(*) AS BIGINT) AS d_c,
         CAST(sum(CASE WHEN lt = ls THEN 1 ELSE 0 END) AS BIGINT) AS e_c
  FROM tagged GROUP BY 1
),
terms AS (
  SELECT c, d_c, e_c,
         CAST(floor((CAST(e_c AS DOUBLE) / CAST(m2 AS DOUBLE)
                     - CAST(d_c AS DOUBLE) / CAST(m2 AS DOUBLE)
                       * CAST(d_c AS DOUBLE) / CAST(m2 AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS term_micro
  FROM per_c, m2
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(max(d_c) AS BIGINT) AS max_degree_sum,
       CAST(sum(e_c) AS BIGINT) AS intra_edges,
       CAST(sum(term_micro) AS BIGINT) AS q_micro
FROM terms
"""
    )


def powerlaw_alpha(edges):
    """Discrete power-law exponent MLE for the degree distribution
    (Clauset, Shalizi & Newman 2009 eq. 3.7 continuous approximation):
    alpha = 1 + n / sum ln(d / (dmin - 1/2)) over nodes with degree >=
    dmin — the one-number tail-heaviness fingerprint that says whether
    a co-occurrence graph has hubs worth special-casing.

    Exactness: degrees are int64; each node's ln term is
    micro-nat-quantized at the DEGREE-VALUE grain (one term per
    distinct degree, weighted by its node count) before the sum. One
    degree aggregate, one degree-histogram aggregate, 1-row math."""
    dmin = 2
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hist = (
        deg.where(F.col("d") >= dmin)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    terms = hist.select(
        "m",
        (
            F.col("m")
            * F.floor(
                F.log(
                    F.col("d").cast("double") / (dmin - 0.5)
                )
                * 1000000
                + F.lit(0.5)
            ).cast("long")
        ).alias("lt_micro"),
    )
    agg = terms.agg(
        F.sum("m").alias("n_tail"), F.sum("lt_micro").alias("slog")
    )
    return agg.select(
        "n_tail",
        "slog",
        F.floor(
            (
                1.0
                + F.col("n_tail").cast("double")
                / (F.col("slog").cast("double") / 1.0e6)
            )
            * 1000000
            + F.lit(0.5)
        ).alias("alpha_micro"),
    )


def _graph_powerlaw_alpha(spark, sf_dir):
    edges = shared_cooccurrence_edges(spark, sf_dir)
    return powerlaw_alpha(edges)


_PLAW_SQL = f"""
WITH edges AS ({_BFS_EDGES_CTE}),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
hist AS (
  SELECT d, CAST(count(*) AS BIGINT) AS m FROM deg WHERE d >= 2 GROUP BY 1
),
terms AS (
  SELECT m,
         m * CAST(floor(ln(CAST(d AS DOUBLE) / 1.5) * 1000000 + 0.5)
                  AS BIGINT) AS lt_micro
  FROM hist
),
agg AS (
  SELECT CAST(sum(m) AS BIGINT) AS n_tail,
         CAST(sum(lt_micro) AS BIGINT) AS slog
  FROM terms
)
SELECT n_tail, slog,
       CAST(floor((1.0 + CAST(n_tail AS DOUBLE)
                   / (CAST(slog AS DOUBLE) / 1.0e6)) * 1000000 + 0.5)
            AS BIGINT) AS alpha_micro
FROM agg
"""


GRAPH_QUERIES: dict[str, QueryDef] = {
    q.name: q
    for q in (
        QueryDef("affinity_part_pairs", _affinity_part_pairs, _AFFINITY_SQL),
        QueryDef("graph_pagerank", _graph_pagerank, _PR_SQL),
        QueryDef("graph_triangles", _graph_triangles, _TRI_SQL),
        QueryDef("affinity_lift_topk", _affinity_lift_topk, _LIFT_SQL),
        QueryDef("graph_link_predict", _graph_link_predict, _LP_SQL),
        QueryDef("graph_label_propagation", _graph_label_propagation, _lpa_sql()),
        QueryDef("graph_kcore_peel", _graph_kcore_peel, _kcore_sql()),
        QueryDef("graph_hits", _graph_hits, _hits_sql()),
        QueryDef("graph_neighborhood_jaccard", _graph_neighborhood_jaccard, _NJ_SQL),
        QueryDef("graph_bfs_hops", _graph_bfs_hops, _bfs_sql()),
        QueryDef("graph_assortativity", _graph_assortativity, _ASSORT_SQL),
        QueryDef("graph_modularity", _graph_modularity, _modularity_sql()),
        QueryDef("graph_powerlaw_alpha", _graph_powerlaw_alpha, _PLAW_SQL),
    )
}
