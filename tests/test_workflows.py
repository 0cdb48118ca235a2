"""Workflow trace + bridge-edge tests (SURVEY.md Q6/Q7).

Pins the Spark restatement of blarify's DFS path enumeration
(queries.py:926-1053) and client-side bridge synthesis
(queries.py:1144-1290 _create_bridge_edges) on hand-built graphs with
known expected outputs, mirroring the reference's workflow fixtures
(tests/integration/test_workflow_creator_integration.py:25-469).
"""

from __future__ import annotations

from blarify_spark.operators.kg_queries import workflow_bridges
from blarify_spark.plans.workflows import workflow_traces


def _kg_of(spark, nodes: list[tuple[str, str]], edges: list[tuple[str, str]]):
    return {
        "nodes": spark.createDataFrame(nodes, "canon_id string, name string"),
        "edges": spark.createDataFrame(edges, "subj_id string, obj_id string"),
    }


def _traces(spark, nodes, edges):
    return {
        (r["root_name"], r["path_str"]): (r["path_rank"], r["lcp"])
        for r in workflow_traces(_kg_of(spark, nodes, edges)).collect()
    }


def test_traces_enumerate_paths_with_per_root_lcp(spark):
    nodes = [(n, n) for n in ["main", "start", "build", "hier"]]
    edges = [("main", "start"), ("main", "build"), ("build", "hier")]
    got = _traces(spark, nodes, edges)
    # lexicographic per root: "main > build > hier" before "main > start"
    assert got == {
        ("main", "main > build > hier"): (1, 0),
        ("main", "main > start"): (2, 1),  # shares the root node
    }


def test_trace_cycle_guard_is_by_node_id_not_name(spark):
    # two DISTINCT entities share the display name "Dup": the path must
    # still extend through both (blarify's NODE_PATH uniqueness is on ids)
    nodes = [("r", "root"), ("x1", "Dup"), ("x2", "Dup")]
    edges = [("r", "x1"), ("x1", "x2")]
    got = _traces(spark, nodes, edges)
    assert ("root", "root > Dup > Dup") in got
    # a pure cycle has no entry point => no trace at all (blarify expands
    # from entry points only)
    assert _traces(spark, nodes[:2], [("r", "x1"), ("x1", "r")]) == {}
    # a tail into an id-cycle is cut at the revisit: r -> x1 -> x2 -> x1
    cyc = _traces(spark, nodes, [("r", "x1"), ("x1", "x2"), ("x2", "x1")])
    assert list(cyc) == [("root", "root > Dup > Dup")]


def _bridges(spark, nodes, edges):
    return [
        tuple(r)
        for r in workflow_bridges(_kg_of(spark, nodes, edges))
        .select("root_name", "caller", "callee", "bridge_kind", "bridge_depth")
        .collect()
    ]


def test_bridge_consecutive_paths_on_depth_decrease(spark):
    # stream: main(0) build(1) hier(2) | start(1)  -> depth decrease at
    # start => bridge hier -> start (reference step 2, depth 1)
    nodes = [(n, n) for n in ["main", "start", "build", "hier"]]
    edges = [("main", "start"), ("main", "build"), ("build", "hier")]
    assert _bridges(spark, nodes, edges) == [
        ("main", "hier", "start", "consecutive_path", 1)
    ]


def test_bridge_same_depth_siblings_within_segment(spark):
    # r -> a, r -> b (leaves): stream r(0) a(1) b(1), no boundary; a and b
    # are consecutive same-depth nodes => bridge a -> b (reference step 3,
    # edge depth = node depth + 1)
    nodes = [(n, n) for n in ["r", "a", "b"]]
    edges = [("r", "a"), ("r", "b")]
    assert _bridges(spark, nodes, edges) == [("r", "a", "b", "same_depth", 2)]


def test_bridge_skips_existing_edges_and_self_loops(spark):
    # same shape but a->b is a REAL edge: the reference's edge_map check
    # suppresses the bridge
    nodes = [(n, n) for n in ["r", "a", "b"]]
    edges = [("r", "a"), ("r", "b"), ("a", "b")]
    got = _bridges(spark, nodes, edges)
    assert ("r", "a", "b", "same_depth", 2) not in got


def test_bridges_do_not_cross_roots(spark):
    # two disconnected components: no bridge may join them (windows are
    # partitioned per root)
    nodes = [(n, n) for n in ["r1", "a", "r2", "b"]]
    edges = [("r1", "a"), ("r2", "b")]
    assert _bridges(spark, nodes, edges) == []
