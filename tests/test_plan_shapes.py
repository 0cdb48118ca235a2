"""Physical-plan shape gates for the 100x-scale fixes.

Asserts via explain() that the round-2 scale fixes hold structurally:
no unpartitioned window over a full row table, entry-point-seeded k-hop,
broadcast rule/dictionary joins — so a regression reintroducing a global
sort or an all-roots closure fails CI, not a cluster run.
"""

from __future__ import annotations

import re


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _window_specs(plan: str) -> list[str]:
    # windowspecdefinition(<partition cols...>, <order...>, specifiedwindowframe...)
    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def test_workflow_paths_windows_are_partitioned_by_root(spark, fixture_pages):
    from blarify_spark.plans.canonicalize import canonicalize
    from blarify_spark.plans.extract import extract_all_stage, mentions_from, triples_from
    from blarify_spark.plans.linking import resolve_triples
    from blarify_spark.plans.workflows import workflow_traces
    from blarify_spark.sources.alias import alias_dict

    ext = extract_all_stage(fixture_pages)
    linked = resolve_triples(triples_from(ext), mentions_from(ext), alias_dict(spark))
    nodes, edges, _ = canonicalize(linked)
    plan = _plan(workflow_traces({"nodes": nodes, "edges": edges}))
    specs = _window_specs(plan)
    assert specs, "expected window operators in the trace plan"
    for spec in specs:
        assert spec.split("#")[0].strip().startswith("root"), spec


def _split_top_level_brackets(s: str) -> list[str]:
    """Top-level [..] groups of a logical-plan node line."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            if depth == 0:
                cur = []
            else:
                cur.append(ch)
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
            else:
                cur.append(ch)
        elif depth > 0:
            cur.append(ch)
    return groups


def test_paginated_triples_has_no_full_table_global_window(spark):
    """Two-phase pagination gate (un-vacuous per ADVICE r02): every
    unpartitioned window in the logical plan must sit directly above the
    per-url COUNT aggregate (one row per url) with no Generate/explode
    (the full triple expansion) in between — a regression reintroducing
    a global row_number over the triple table fails here."""
    from blarify_spark.operators.registry import all_queries

    df = all_queries()["kg_paginated_triples"](spark, "unused")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    found_partitioned = found_offsets = False
    for i, line in enumerate(lines):
        if "Window [" not in line:
            continue
        # logical Window prints [exprs], [partitionSpec], [orderSpec];
        # with no partition columns the partition group is absent (2
        # groups, the second being the order spec with ASC/DESC)
        groups = _split_top_level_brackets(line[line.index("Window [") :])
        partitioned = len(groups) >= 3 and groups[1].strip() != ""
        if partitioned:
            assert groups[1].split("#")[0].strip() == "url", line
            found_partitioned = True
            continue
        # unpartitioned: walk its subtree until the first Aggregate;
        # it must be keyed by url, and nothing in between may explode
        base_indent = indent(line)
        subtree_ok = False
        for nxt in lines[i + 1 :]:
            if nxt.strip() and indent(nxt) <= base_indent and "Window" not in nxt:
                break
            assert "Generate" not in nxt, (
                f"explode between global window and aggregate: {nxt}"
            )
            if "Aggregate [" in nxt:
                keys = _split_top_level_brackets(
                    nxt[nxt.index("Aggregate [") :]
                )[0]
                assert keys.split("#")[0].strip() == "url", nxt
                subtree_ok = True
                break
        assert subtree_ok, f"global window not above a per-url aggregate: {line}"
        found_offsets = True
    assert found_partitioned, "expected a url-partitioned ranking window"
    assert found_offsets, "expected the offsets window over per-url counts"


def test_khop_seeds_from_entry_points_only(spark):
    """The k-hop frontier starts from the entry-point anti-join, never
    from all nodes: root count == entry-point count < node count."""
    from pyspark.sql import functions as F

    from blarify_spark.operators.registry import all_queries

    qs = all_queries()
    reach = qs["kg_khop_reach"](spark, "unused")
    entry = qs["kg_entrypoint_entities"](spark, "unused")
    nodes = qs["kg_nodes"](spark, "unused")
    n_entry, n_nodes = entry.count(), nodes.count()
    assert n_entry < n_nodes
    n_roots = reach.select("root").distinct().count()
    assert n_roots <= n_entry


def test_innermost_range_join_pushes_key_filter_to_scan(spark):
    from blarify_spark.operators.registry import all_queries
    from tests.conftest import SF_DIR

    df = all_queries()["range_join_innermost"](spark, SF_DIR)
    plan = _plan(df)
    # the l_orderkey < 200 bound must reach both parquet scans, and each
    # scan may read only the columns its side needs (column pruning)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) >= 2, plan[:400]
    allowed = {"l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"}
    for cols in scans:
        names = {c.split("#")[0] for c in cols.split(",")}
        assert names <= allowed, names
    assert plan.count("l_orderkey") and "< 200" in plan


def test_linking_uses_broadcast_alias_join(spark):
    from blarify_spark import corpus
    from blarify_spark.plans.extract import extract_all_stage, mentions_from
    from blarify_spark.plans.linking import link_mentions
    from blarify_spark.sources.alias import alias_dict
    from blarify_spark.sources.pages import pages_from_rows

    pages = extract_all_stage(
        pages_from_rows(spark, corpus.generate_pages(8))
    )
    plan = _plan(link_mentions(mentions_from(pages), alias_dict(spark)))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pack_contexts_windows_are_partitioned_by_shard(spark):
    """Round-5 sequence packing: the running-sum window must be
    partitioned (per md5 shard) — an empty partition spec would funnel
    the whole corpus through one task at scale."""
    from blarify_spark.operators.registry import all_queries

    df = all_queries()["pack_documents_into_contexts"](
        spark, "/root/testdata/sf0.001"
    )
    specs = _window_specs(_plan(df))
    assert specs, "expected a window operator in the packing plan"
    for spec in specs:
        assert spec.split("#")[0].strip().startswith("shard"), spec
