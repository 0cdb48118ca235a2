"""Workflow persistence (round-4): write the DFS workflow layer INTO the
graph.

Blarify materializes discovered workflows back into the database:
WORKFLOW nodes keyed by workflow id with an entry point, member →
workflow `BELONGS_TO_WORKFLOW` edges, and consecutive-member
`WORKFLOW_STEP` edges carrying {order, workflow_id}
(reference: blarify/repositories/graph_db_manager/queries.py:1600-1675).
Computing the traces alone (`workflow_traces`) would not let a consumer
query "which workflow does this entity belong to"; persisting them does.

Spark restatement, schema-compatible with the canonical tables so the
workflow layer lives IN nodes/edges (not a side table):

* workflow node rows reuse the node schema (canon_id, name, n_mentions):
  canon_id = md5('workflow:' + id-path) — deterministic, so re-running
  the materialization is idempotent; name = 'workflow: <path names>';
  n_mentions = path length.
* workflow edge rows reuse the edge schema (TRIPLE_COLS): provenance
  url = 'workflow://<workflow_id>', pred = belongs_to_workflow |
  workflow_step, span_start = member position / step order (the
  reference's `order` attribute, queries.py:1665-1674).

Everything is one traces pass + two native explosions — no UDFs, no
driver loops; workflow rows are O(paths x depth), bounded by the DFS
frontier caps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from blarify_spark.functions.checkpoint import cut_lineage

WORKFLOW_URL_PREFIX = "workflow://"
PRED_BELONGS = "belongs_to_workflow"
PRED_STEP = "workflow_step"

# DFS bounds: depth matches the reference's max traversal depth 20
# (repositories/graph_db_manager/queries.py:938); the frontier cap is the
# path-explosion fence — a dense graph can grow paths combinatorially
# per round, and a silent cap would truncate results, so the traversal
# RAISES instead (callers lower max_depth or prune the graph).
MAX_DEPTH = 20
MAX_FRONTIER = 1_000_000


class WorkflowExplosionError(RuntimeError):
    """DFS frontier exceeded max_frontier — the graph is too dense for
    exhaustive path enumeration at this depth."""


def workflow_traces(
    kg: dict[str, DataFrame],
    max_depth: int = MAX_DEPTH,
    max_frontier: int = MAX_FRONTIER,
) -> DataFrame:
    """Q6 shared core (blarify queries.py:926-1053): bounded DFS path
    enumeration from entry-point entities with per-root longest-common-
    prefix computation.

    Paths accumulate ONLY id arrays through <= max_depth frontier joins
    (reference depth cap 20, queries.py:938); the cycle guard and the
    LCP run on canon_ids (blarify's NODE_PATH uniqueness — distinct
    entities sharing a display name must not block each other). Names
    are for rendering only, so they are resolved ONCE after the loop
    (posexplode -> one name join -> re-assemble), not joined per round —
    the loop shuffles the narrowest possible frontier rows and each
    round is a single frontier-edges join. Every window is partitioned
    by root (blarify dedups per entry point), so no global single-task
    sort exists at any scale. Each round runs exactly ONE driver action:
    a count over the lazily-checkpointed extension, which materializes
    the checkpoint, detects exhaustion (0) and raises
    WorkflowExplosionError above max_frontier rather than silently
    truncating.

    Returns one row per (root, path): root, root_name, path_str, ids,
    names, path_rank, lcp (id-level shared prefix with the previous path
    of the same root).
    """
    # materialize the two loop-invariant sides ONCE: every round's
    # frontier join re-reads them, and an un-cut edges.distinct() would
    # re-shuffle the full edge table up to max_depth times (plus one
    # AQE broadcast-build job per round per side)
    edges = cut_lineage(kg["edges"].select("subj_id", "obj_id").distinct())
    names = cut_lineage(kg["nodes"].select("canon_id", "name"))

    roots = (
        kg["nodes"]
        .join(
            kg["edges"].select(F.col("obj_id").alias("canon_id")),
            "canon_id",
            "left_anti",
        )
        .select(
            F.col("canon_id").alias("node"),
            F.array("canon_id").alias("ids"),
        )
    )
    complete = roots.filter(F.lit(False))  # empty, same schema
    frontier = roots
    for i in range(max_depth):
        # per-iteration unique column names avoid self-join ambiguity
        # (frontier.node descends from the previous round's edge columns)
        e_i = edges.select(
            F.col("subj_id").alias(f"src_{i}"), F.col("obj_id").alias(f"dst_{i}")
        )
        # lazy lineage cut: the count below is the round's ONE driver
        # action — it computes the join, persists the checkpoint blocks
        # (first action over a non-eager checkpoint materializes it), and
        # returns the frontier size in the same job. The former shape
        # (eager checkpoint + separate bounded count) ran 2 jobs/round
        # for the same work: the eager checkpoint already materialized
        # every partition, so the limit on the count bounded nothing
        # (VERDICT r04 #4).
        ext = cut_lineage(
            frontier.join(e_i, frontier.node == F.col(f"src_{i}")).filter(
                ~F.array_contains(F.col("ids"), F.col(f"dst_{i}"))
            ),
            eager=False,
        )
        step = ext.select(
            F.col(f"dst_{i}").alias("node"),
            F.concat(F.col("ids"), F.array(f"dst_{i}")).alias("ids"),
        )
        # paths that produced NO extension are complete — checked against
        # the actual extensions, not just head out-degree, so a path whose
        # every outgoing edge is cycle-blocked still completes (a head-
        # degree check would silently drop it)
        ended = frontier.join(
            ext.select(F.array_join("ids", ">").alias("_k")).distinct(),
            F.array_join(frontier["ids"], ">") == F.col("_k"),
            "left_anti",
        )
        complete = complete.unionByName(ended)
        frontier = step
        # one job answers BOTH loop questions (0 -> exhausted,
        # > max_frontier -> explosion) AND materializes the checkpoint:
        # step/ended read the persisted blocks, never recompute the join
        n_frontier = ext.count()
        if n_frontier == 0:
            break
        if n_frontier > max_frontier:
            raise WorkflowExplosionError(
                f"DFS frontier exceeded {max_frontier} paths at depth "
                f"{i + 1}/{max_depth}; lower max_depth or prune the graph"
            )
    complete = complete.unionByName(frontier)

    # Resolve display names ONCE for the completed path set: explode the
    # id arrays with position, one equi-join against the (small,
    # materialized) names table, re-assemble in order. At 100 TB this is
    # one shuffle over O(total path length) rows instead of max_depth
    # name joins riding every frontier shuffle.
    id_paths = complete.select(
        F.array_join("ids", ">").alias("id_path"), "ids"
    ).dropDuplicates(["id_path"])
    named = (
        id_paths.select("id_path", F.posexplode("ids").alias("pos", "canon_id"))
        .join(names, "canon_id")
        .groupBy("id_path")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "name"))),
                lambda s: s["name"],
            ).alias("names")
        )
    )
    paths = id_paths.join(named, "id_path").select(
        F.col("ids")[0].alias("root"),
        F.element_at("names", 1).alias("root_name"),
        F.array_join("names", " > ").alias("path_str"),
        "id_path",
        "ids",
        "names",
    )
    w = W.partitionBy("root").orderBy("path_str", "id_path")
    prev_ids = F.lag("ids").over(w)
    both = F.col("ids")
    shared = F.least(F.size(both), F.size(prev_ids))
    lcp = F.when(prev_ids.isNull() | (shared <= 0), F.lit(0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(0), shared - 1),
            F.lit(0),
            lambda acc, i: F.when(
                (acc == i) & (both[i] == prev_ids[i]), acc + 1
            ).otherwise(acc),
        )
    )
    return paths.select(
        "root",
        "root_name",
        "path_str",
        "ids",
        "names",
        F.row_number().over(w).alias("path_rank"),
        lcp.alias("lcp"),
    )

_EDGE_COLS = [
    "url",
    "warc_ts",
    "pred",
    "subj_id",
    "obj_id",
    "subj",
    "obj",
    "span_start",
    "span_end",
]


def _wf_id() -> F.Column:
    return F.md5(F.concat(F.lit("workflow:"), F.array_join("ids", ">")))


def workflow_tables(traces: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(wf_nodes, wf_edges) from a _workflow_traces DataFrame, in the
    canonical node/edge schemas (see module docstring)."""
    base = traces.select(
        _wf_id().alias("wf_id"),
        F.concat(F.lit("workflow: "), F.col("path_str")).alias("wf_name"),
        "ids",
        "names",
    )

    nodes = base.select(
        F.col("wf_id").alias("canon_id"),
        F.col("wf_name").alias("name"),
        F.size("ids").cast("long").alias("n_mentions"),
    )

    url = F.concat(F.lit(WORKFLOW_URL_PREFIX), F.col("wf_id"))
    ts = F.lit(None).cast("timestamp")

    # member -> workflow (BELONGS_TO_WORKFLOW, queries.py:1640-1655):
    # span_start = member position in the path
    members = base.select(
        "wf_id",
        "wf_name",
        url.alias("url"),
        F.posexplode(F.arrays_zip(F.col("ids"), F.col("names"))).alias(
            "pos", "z"
        ),
    )
    belongs = members.select(
        "url",
        ts.alias("warc_ts"),
        F.lit(PRED_BELONGS).alias("pred"),
        F.col("z.ids").alias("subj_id"),
        F.col("wf_id").alias("obj_id"),
        F.col("z.names").alias("subj"),
        F.col("wf_name").alias("obj"),
        F.col("pos").cast("int").alias("span_start"),
        F.col("pos").cast("int").alias("span_end"),
    )

    # consecutive members (WORKFLOW_STEP with order, queries.py:1657-1675):
    # zip the path with itself shifted by one
    n = F.size("ids")
    steps_z = base.select(
        "wf_id",
        url.alias("url"),
        F.posexplode(
            F.arrays_zip(
                F.slice(F.col("ids"), F.lit(1), n - 1).alias("src"),
                F.slice(F.col("ids"), F.lit(2), n - 1).alias("dst"),
                F.slice(F.col("names"), F.lit(1), n - 1).alias("src_nm"),
                F.slice(F.col("names"), F.lit(2), n - 1).alias("dst_nm"),
            )
        ).alias("ord", "z"),
    )
    steps = steps_z.select(
        "url",
        ts.alias("warc_ts"),
        F.lit(PRED_STEP).alias("pred"),
        F.col("z.src").alias("subj_id"),
        F.col("z.dst").alias("obj_id"),
        F.col("z.src_nm").alias("subj"),
        F.col("z.dst_nm").alias("obj"),
        F.col("ord").cast("int").alias("span_start"),
        (F.col("ord") + 1).cast("int").alias("span_end"),
    )

    return nodes, belongs.unionByName(steps).select(*_EDGE_COLS)


def materialize_workflows(
    nodes: DataFrame, edges: DataFrame, traces: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Augment the canonical (nodes, edges) with the workflow layer.

    Idempotent by key-dedup: augmenting an already-augmented graph (or
    re-running the materialization) yields identical tables — the
    deterministic workflow ids make the union a no-op the second time,
    mirroring the reference's MERGE-on-id upserts
    (neo4j_manager.py:128-142)."""
    wf_nodes, wf_edges = workflow_tables(traces)
    out_nodes = nodes.unionByName(wf_nodes).dropDuplicates(["canon_id"])
    out_edges = edges.select(*_EDGE_COLS).unionByName(wf_edges).dropDuplicates(
        ["url", "pred", "subj_id", "obj_id", "span_start"]
    )
    return out_nodes, out_edges
