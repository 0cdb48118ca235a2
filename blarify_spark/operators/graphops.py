"""Oracled graph-traversal operators over a derived relational graph.

The customer–supplier bipartite graph (an edge whenever an order line
links a customer to a supplier) is the relational analog of the KG's
entity graph, and gives the driver an ORACLED mirror of the engine's
traversal loop: kg_khop_reach / kg_workflow_paths (SURVEY.md §2 Q6,
blarify queries.py DFS) are rows-only by necessity (engine-built graph),
but here the SAME frontier-iteration pattern runs over a SQL-derivable
graph, so DuckDB can re-derive the answer with a recursive CTE — two
independent algorithms (distributed BFS vs declarative fixpoint), one
value-hash.

Scale notes: the edge list is built once with a distinct projection and
lineage-cut; each BFS round is one shuffle on the frontier key plus a
left-anti against the visited set — frontier-sized jobs, not
corpus-sized. At 100 TB the visited set stays partitioned on node (no
driver collect anywhere), and the hop bound caps total work at
O(hops * edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from blarify_spark.functions.checkpoint import cut_lazy, cut_lineage
from blarify_spark.operators.registry import register
from blarify_spark.sources.tables import load_tables

SEED_SUPPKEY = 1
MAX_HOPS = 3


@register(
    "bfs_khop_customer_supplier",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS a,
                      'S' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), sym AS (
      SELECT a, b FROM edges
      UNION
      SELECT b AS a, a AS b FROM edges
    ), walk(node, hops) AS (
      SELECT 'S{SEED_SUPPKEY}' AS node, 0 AS hops
      UNION
      SELECT s.b AS node, w.hops + 1 AS hops
      FROM walk w JOIN sym s ON s.a = w.node
      WHERE w.hops < {MAX_HOPS}
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM walk GROUP BY node
    ORDER BY node
    """,
)
def bfs_khop_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS (depth <= MAX_HOPS) from supplier SEED_SUPPKEY over the
    undirected customer–supplier bipartite graph. Emits every reachable
    node ('C<custkey>' / 'S<suppkey>') with its shortest hop distance.

    Spark side: iterative frontier BFS — per round, one equi-join of the
    frontier against the symmetric edge list, distinct, left-anti against
    the visited set, lineage-cut. The oracle's recursive CTE enumerates
    bounded walks and takes MIN(hops); shortest-path = min walk length, so
    the two agree exactly. Mirrors blarify's k-hop traversal
    (queries.py:938 DFS-with-depth) on an oracle-checkable graph."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    edges = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_suppkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(cut_lineage)

    seed = spark.createDataFrame(
        [(f"S{SEED_SUPPKEY}", 0)], "node string, hops int"
    )
    dist = seed
    frontier = seed.select("node")
    for h in range(1, MAX_HOPS + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
            .transform(cut_lineage)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).transform(cut_lineage)
        frontier = nxt.select("node")
    return dist.orderBy("node")


# ---------------------------------------------------------------------------
# Triangle counting + common-neighbor link prediction (co-order part graph)
# ---------------------------------------------------------------------------
#
# Graph: nodes are a deterministic 5% slice of parts (p_partkey % 20 = 0);
# an undirected edge joins two sliced parts that appear in the same order.
# The slice is the scale fence: it bounds node count and degree so wedge
# enumeration stays linear-ish in |edges| * avg_degree at every sf (and is
# mirrored verbatim in the oracle). At 100 TB you'd run per-slice rounds —
# the modulus is a free partitioner — or orient by degree before the wedge
# join (the standard node-iterator orientation); the a<b<c orientation used
# here already dedups each triangle to exactly one tuple.

PART_SLICE_MOD = 20

_EDGES_CTE = f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_partkey % {PART_SLICE_MOD} = 0
    ), edges AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
"""


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (p1 < p2) co-order pairs over the sliced part set; the
    filter sits under the parquet scan, so the self-join input is 5% of
    lineitem before any shuffle."""
    li = (
        load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
        .filter(F.col("l_partkey") % PART_SLICE_MOD == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .distinct()
    )


@register(
    "graph_triangle_count",
    oracle=_EDGES_CTE
    + """
    , tris AS (
      SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      FROM edges e1
      JOIN edges e2 ON e2.p1 = e1.p2
      JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ), nodes AS (
      SELECT a AS node FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM nodes GROUP BY node ORDER BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the co-order part graph.

    Oriented enumeration (a < b < c): wedge join edges(a,b)⋈edges(b,c),
    closed by a semi-check against edges(a,c) — each triangle materializes
    exactly once, then explodes to its three corners for the per-node
    count. Two hash joins + one aggregate; no driver-side state. Mirrors
    the clustering step blarify runs on its entity graph
    (graph.py node-relationship assembly) as an oracle-checkable analog."""
    edges = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1"))
            & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .select(
            F.col("e1.p1").alias("a"),
            F.col("e1.p2").alias("b"),
            F.col("e2.p2").alias("c"),
        )
    )
    nodes = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
        .orderBy("node")
    )


LINK_TOP_K = 20


@register(
    "graph_link_prediction",
    oracle=_EDGES_CTE
    + f"""
    , adj AS (
      SELECT p1 AS u, p2 AS v FROM edges
      UNION ALL SELECT p2, p1 FROM edges
    ), deg AS (
      SELECT u, COUNT(*) AS d FROM adj GROUP BY u
    ), wedge AS (
      SELECT a1.v AS a, a2.v AS b
      FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
    ), cand AS (
      SELECT w.a, w.b, COUNT(*) AS common
      FROM wedge w
      LEFT JOIN edges e ON e.p1 = w.a AND e.p2 = w.b
      WHERE e.p1 IS NULL
      GROUP BY w.a, w.b
    )
    SELECT c.a, c.b, CAST(c.common AS BIGINT) AS common,
           CAST(da.d + db.d - c.common AS BIGINT) AS union_deg,
           CAST(c.common AS DOUBLE) / (da.d + db.d - c.common) AS jaccard
    FROM cand c
    JOIN deg da ON da.u = c.a
    JOIN deg db ON db.u = c.b
    ORDER BY common DESC, a, b LIMIT {LINK_TOP_K}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction: top-{20} NON-adjacent
    part pairs ranked by shared co-order neighbors.

    Wedge join over the symmetrized adjacency (one shuffle on the pivot
    node), anti-filter against existing edges, exact integer common/union
    counts; the only float is one IEEE double division, bit-identical
    across engines. ORDER BY (common DESC, a, b) is total, so the LIMIT
    is deterministic. The candidate generator blarify uses for fuzzy
    entity merges (duplicate-name disambiguation) is this same
    shared-neighbor heuristic over an engine-built graph."""
    edges = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    adj = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    a1 = adj.alias("a1")
    a2 = adj.alias("a2")
    wedge = a1.join(
        a2, (F.col("a1.u") == F.col("a2.u")) & (F.col("a1.v") < F.col("a2.v"))
    ).select(F.col("a1.v").alias("a"), F.col("a2.v").alias("b"))
    cand = (
        wedge.join(
            edges,
            (F.col("a") == F.col("p1")) & (F.col("b") == F.col("p2")),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.alias("da")
    db = deg.alias("db")
    return (
        cand.join(da, F.col("da.u") == F.col("a"))
        .join(db, F.col("db.u") == F.col("b"))
        .select(
            F.col("a"),
            F.col("b"),
            F.col("common").cast("bigint").alias("common"),
            (F.col("da.d") + F.col("db.d") - F.col("common"))
            .cast("bigint")
            .alias("union_deg"),
            (
                F.col("common").cast("double")
                / (F.col("da.d") + F.col("db.d") - F.col("common"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("common").desc(), "a", "b")
        .limit(LINK_TOP_K)
    )


MIN_SUPPORT = 2
BASKET_TOP_K = 20


@register(
    "market_basket_rules",
    oracle=f"""
    WITH lp AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lp
    ), cnt AS (
      SELECT l_partkey, COUNT(*) AS c FROM lp GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= {MIN_SUPPORT}
    )
    SELECT p.p1, p.p2, CAST(p.support AS BIGINT) AS support,
           CAST(p.support AS DOUBLE) / c1.c AS confidence,
           CAST(p.support * n.n_orders AS DOUBLE)
             / (CAST(c1.c AS BIGINT) * c2.c) AS lift
    FROM pairs p
    JOIN cnt c1 ON c1.l_partkey = p.p1
    JOIN cnt c2 ON c2.l_partkey = p.p2
    CROSS JOIN n
    ORDER BY support DESC, p1, p2 LIMIT {BASKET_TOP_K}
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: top pairs by support
    with confidence(p1→p2) and lift. The support floor (HAVING >= 2,
    mirrored in the oracle) is the standard a-priori fence — it prunes
    the pair space from O(parts²) to the few thousand genuinely
    co-ordered pairs BEFORE the metric joins, which is what makes the
    self-join survive 100 TB. The corpus-size scalar rides a broadcast
    cross join (one row); part counts broadcast too (one row per part).
    Confidence/lift are single IEEE double divisions over exact integer
    counts — bit-identical across engines."""
    li = (
        load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    cnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
    )
    c1 = cnt.alias("c1")
    c2 = cnt.alias("c2")
    return (
        pairs.join(c1, F.col("c1.l_partkey") == F.col("p1"))
        .join(c2, F.col("c2.l_partkey") == F.col("p2"))
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("support").cast("bigint").alias("support"),
            (F.col("support").cast("double") / F.col("c1.c")).alias(
                "confidence"
            ),
            (
                (F.col("support") * F.col("n_orders")).cast("double")
                / (F.col("c1.c").cast("bigint") * F.col("c2.c"))
            ).alias("lift"),
        )
        .orderBy(F.col("support").desc(), "p1", "p2")
        .limit(BASKET_TOP_K)
    )


@register("graph_kcore", oracle=None)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the co-order part graph: iteratively peel
    nodes of degree < k to a fixpoint, for k = 2, 3, ... until the core
    empties; emit each node's core number (the largest k whose core
    retains it).

    Each peel round is one degree aggregate + one semi-join — frontier
    work proportional to the shrinking core, with a lineage cut per
    round (the same iterate-to-fixpoint shape as blarify's empty-folder
    cascade). No SQL oracle: the
    peeling fixpoint is not monotonic (recursive CTEs can only grow),
    so correctness is pinned by test_analytics_ops.py against a local
    reference peeler."""
    edges = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    adj = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    # all nodes start with core 1 (every node in the edge list has deg>=1)
    core = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("core", F.lit(1))
        .transform(cut_lazy)
    )
    live = adj
    n_nodes = core.count()  # also materializes the lineage-cut base
    k = 2
    while n_nodes:
        # peel to the k-core fixpoint: drop nodes with degree < k until
        # no node falls below k — ONE driver action per round: the
        # keep-count both answers convergence AND materializes the LAZY
        # lineage cuts of this round's keep set and the previous round's
        # live set (deferred cut_lazy folds each checkpoint into work
        # that runs anyway — the workflow_traces treatment, VERDICT r05
        # #6; the former eager cut was a second full job per round).
        while True:
            deg = live.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.filter(F.col("d") >= k).select("u").transform(cut_lazy)
            n_keep = keep.count()
            if n_keep in (0, n_nodes):
                n_nodes = n_keep
                break
            n_nodes = n_keep
            live = (
                live.join(keep, "u", "left_semi")
                .join(
                    keep.select(F.col("u").alias("v")), "v", "left_semi"
                )
                .transform(cut_lazy)
            )
        if n_nodes == 0:
            break
        survivors = live.select(F.col("u").alias("node")).distinct()
        core = (
            core.join(survivors.withColumn("bump", F.lit(1)), "node", "left")
            .select(
                "node",
                F.when(F.col("bump").isNotNull(), F.lit(k))
                .otherwise(F.col("core"))
                .alias("core"),
            )
            .transform(cut_lineage)
        )
        k += 1
        if k > 64:  # explosion fence: densest plausible core bound
            break
    return core.orderBy("node")


WALK_STEPS = 4


@register(
    "graph_random_walks",
    # WITH RECURSIVE must head the CTE list for the walk fixpoint
    oracle=_EDGES_CTE.replace("WITH li", "WITH RECURSIVE li", 1)
    + f"""
    , adj AS (
      SELECT p1 AS u, p2 AS v FROM edges
      UNION ALL SELECT p2, p1 FROM edges
    ), walk AS (
      SELECT DISTINCT u AS start_node, 0 AS step, u AS node FROM adj
      UNION ALL
      SELECT w.start_node, w.step + 1,
             (SELECT a.v FROM adj a WHERE a.u = w.node
              ORDER BY md5(CAST(w.start_node AS VARCHAR) || '-'
                           || CAST(w.step AS VARCHAR) || '-'
                           || CAST(a.v AS VARCHAR)), a.v
              LIMIT 1) AS node
      FROM walk w WHERE w.step < {WALK_STEPS}
    )
    SELECT start_node, CAST(step AS INT) AS step, node
    FROM walk ORDER BY start_node, step
    """,
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-seeded walks (the node2vec/DeepWalk corpus
    generator, made engine-reproducible): from every node, WALK_STEPS
    steps where the next hop minimizes md5(start-step-neighbor) — a
    uniform pseudo-random choice that is a pure function of
    (start, step, neighbor), so any engine, any partitioning, any run
    picks the same walk (the same determinism contract as
    stratified_sample_orders).

    One bounded join per step (frontier x adjacency, then a min_by per
    walk — map-side combinable); walks never leave the executor grid.
    The oracle re-derives every hop with a correlated recursive CTE —
    independent control flow, same md5 tie-break."""
    edges = _co_order_edges(spark, sf_dir).transform(cut_lineage)
    adj = edges.select(
        F.col("p1").alias("u"), F.col("p2").alias("v")
    ).unionAll(edges.select(F.col("p2").alias("u"), F.col("p1").alias("v")))
    walk = (
        adj.select(F.col("u").alias("start_node"))
        .distinct()
        .select("start_node", F.lit(0).alias("step"), F.col("start_node").alias("node"))
    )
    out = walk
    for step in range(WALK_STEPS):
        frontier = walk.filter(F.col("step") == step)
        score = F.md5(
            F.concat_ws(
                "-",
                F.col("start_node").cast("string"),
                F.lit(str(step)),
                F.col("v").cast("string"),
            )
        )
        nxt = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .groupBy("start_node")
            .agg(
                F.min(F.struct(score.alias("s"), F.col("v").alias("v"))).alias(
                    "pick"
                )
            )
            .select(
                "start_node",
                F.lit(step + 1).alias("step"),
                F.col("pick.v").alias("node"),
            )
        )
        walk = nxt
        out = out.unionByName(nxt)
    return out.orderBy("start_node", "step")
