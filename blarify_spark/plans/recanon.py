"""Incremental update + labeled node diff.

Blarify's incremental path rebuilds only changed files and keeps deleted
nodes labeled DELETED alongside ADDED/MODIFIED marks
(reference: blarify/prebuilt/graph_builder.py:178-235,
project_graph_diff_creator.py:150-179). The web-KG analog:

* only changed pages are re-extracted and re-linked; every other page's
  linked triples are reused from the previous snapshot;
* canonicalization (MinHash-LSH blocking + connected components) then
  runs in full over the new linked table. nodes/edges/mapping are a pure
  function of `linked`, so the update equals a full rebuild of the new
  snapshot for every delta (merges, splits, bucket-cap crossings) by
  construction;
* consumers see what changed: the nodes diff carries
  ADDED | DELETED | MODIFIED | UNCHANGED labels, with DELETED rows kept
  as tombstones instead of silently dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from blarify_spark.functions.checkpoint import cut_lazy


def changed_url_set(changes: DataFrame) -> DataFrame:
    """One `url` column of every url whose content changed in either
    direction: non-UNCHANGED urls plus the former url of moved pages."""
    return (
        changes.filter(F.col("change") != "UNCHANGED")
        .select("url")
        .unionAll(
            changes.filter(F.col("old_url").isNotNull()).select(
                F.col("old_url").alias("url")
            )
        )
        .distinct()
    )


def _endpoint_ids(triples: DataFrame) -> DataFrame:
    return (
        triples.select(F.col("subj_id").alias("node_id"))
        .unionAll(triples.select(F.col("obj_id").alias("node_id")))
        .distinct()
    )


def delta_ids(
    old_triples: DataFrame, new_triples: DataFrame, changed_urls: DataFrame
) -> DataFrame:
    """One `node_id` column: entities mentioned on a changed url in
    either snapshot."""
    return (
        _endpoint_ids(old_triples.join(changed_urls, "url", "left_semi"))
        .unionAll(
            _endpoint_ids(new_triples.join(changed_urls, "url", "left_semi"))
        )
        .distinct()
    )


def incremental_update(
    old_digests: DataFrame,
    new_pages: DataFrame,
    old_linked: DataFrame,
    alias_df: DataFrame,
) -> dict[str, DataFrame]:
    """Update a snapshot to `new_pages`: classify against the previous
    snapshot's digests (url + content_hash), re-extract and re-link ONLY
    the changed pages, swap them into the previous linked table, and
    canonicalize the result.

    Returns {"triples", "nodes", "edges", "mapping", "changes"}:
    `triples` is the new linked table, nodes/edges/mapping its
    canonicalization (equal to a full rebuild of the new snapshot),
    `changes` the per-url classification.
    """
    from blarify_spark.plans.canonicalize import canonicalize
    from blarify_spark.plans.diff import classify_pages
    from blarify_spark.plans.extract import (
        extract_all_stage,
        mentions_from,
        triples_from,
    )
    from blarify_spark.plans.linking import resolve_triples

    # cut once: the changed-url set, the returned `changes` and both
    # provenance tables read these blocks instead of each re-running
    # classify's full-outer join of the digests with the new pages
    changes = classify_pages(old_digests, new_pages).transform(cut_lazy)
    changed = changed_url_set(changes).transform(cut_lazy)

    # one Python crossing over the changed pages, never the corpus;
    # resolve_triples is the linking plan of run_pipeline's `linked` stage
    ex = extract_all_stage(new_pages.join(changed, "url", "left_semi"))
    fresh = resolve_triples(triples_from(ex), mentions_from(ex), alias_df)
    linked = (
        old_linked.join(changed, "url", "left_anti")
        .unionByName(fresh)
        .transform(cut_lazy)
    )
    nodes, edges, mapping = canonicalize(linked)
    return {
        "triples": linked,
        "nodes": nodes,
        "edges": edges,
        "mapping": mapping,
        "changes": changes,
    }


# ---------------------------------------------------------------------------
# Labeled node diff (D3 completion): tombstoned change marks on nodes
# ---------------------------------------------------------------------------


def labeled_nodes_diff(old_nodes: DataFrame, new_nodes: DataFrame) -> DataFrame:
    """(canon_id, name, n_mentions, change): ADDED | DELETED | MODIFIED |
    UNCHANGED. DELETED rows are tombstones carrying their last-known
    name/count (blarify keeps deleted nodes labeled DELETED,
    project_graph_diff_creator.py:150-179)."""
    o = old_nodes.select(
        "canon_id",
        F.col("name").alias("o_name"),
        F.col("n_mentions").alias("o_n"),
        F.lit(True).alias("in_old"),
    )
    n = new_nodes.select(
        "canon_id",
        F.col("name").alias("n_name"),
        F.col("n_mentions").alias("n_n"),
        F.lit(True).alias("in_new"),
    )
    return o.join(n, "canon_id", "full_outer").select(
        "canon_id",
        F.coalesce("n_name", "o_name").alias("name"),
        F.coalesce("n_n", "o_n").alias("n_mentions"),
        F.when(F.col("in_old").isNull(), F.lit("ADDED"))
        .when(F.col("in_new").isNull(), F.lit("DELETED"))
        .when(
            (F.col("o_name") != F.col("n_name")) | (F.col("o_n") != F.col("n_n")),
            F.lit("MODIFIED"),
        )
        .otherwise(F.lit("UNCHANGED"))
        .alias("change"),
    )
