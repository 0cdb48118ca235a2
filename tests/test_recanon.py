"""Incremental update + labeled graph diff tests.

incremental_update re-extracts only the changed pages and canonicalizes
the updated linked table in full, so every delta must reproduce a full
rebuild of the new snapshot: a bridging alias that MERGES two clusters,
bucket-cap crossings in both directions, a removed mention of an entity
that survives elsewhere, and a NIL name flip on page removal.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from blarify_spark.plans.canonicalize import build_entity_nodes, canonicalize
from blarify_spark.plans.extract import (
    extract_all_stage,
    mentions_from,
    triples_from,
)
from blarify_spark.plans.linking import link_mentions, link_triples
from blarify_spark.plans.recanon import (
    changed_url_set,
    incremental_update,
    labeled_nodes_diff,
)
from blarify_spark.sources.alias import alias_dict
from blarify_spark.sources.pages import pages_from_rows

T0 = datetime.datetime(2025, 1, 1)


def _page(url, sentences):
    html = (
        "<html><body>"
        + "".join(f"<p>{s}</p>" for s in sentences)
        + "</body></html>"
    ).encode()
    return {
        "url": url,
        "warc_ts": T0,
        "html": html,
        "text": None,
        "lang": "en",
        "family": "recanon",
    }


def _linked(spark, rows):
    pages = extract_all_stage(pages_from_rows(spark, rows)).cache()
    linked = link_mentions(mentions_from(pages), alias_dict(spark))
    return link_triples(triples_from(pages), linked).cache()


# LSH-verified (deterministic xxhash64 seeds): "Alphabet Systems" ~
# "Betamax Systems" produces NO candidate pair, while the bridge
# "Alphabet Betamax Systems" pairs with BOTH (jaccard 0.59 / 0.62)
# -> adding the bridge on a modified page merges the two clusters.
SNAP1 = [
    _page("https://r.test/a", ["Alphabet Systems acquired Initech."]),
    _page("https://r.test/b", ["Betamax Systems acquired Hooli."]),
    _page("https://r.test/far", ["Zeta Industries acquired Vandelay."]),
    _page("https://r.test/keep", ["Initech works at Gotham."]),
]
SNAP2 = [
    _page(
        "https://r.test/a",
        [
            "Alphabet Systems acquired Initech.",
            "Alphabet Betamax Systems acquired Initech.",  # bridging alias
        ],
    ),
    SNAP1[1],
    SNAP1[2],
    SNAP1[3],
]


def _mapping_dict(mapping):
    return {r["node_id"]: r["canon_id"] for r in mapping.collect()}


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _update_vs_full(spark, snap_old, snap_new):
    """(incremental_update of snap_old's linked table to snap_new, the
    full canonicalization of snap_new's linked table as a dict), after
    asserting every table of the first equals the second."""
    old_t = _linked(spark, snap_old)
    inc = incremental_update(
        pages_from_rows(spark, snap_old),
        pages_from_rows(spark, snap_new),
        old_t,
        alias_dict(spark),
    )
    full_t = _linked(spark, snap_new)
    nodes, edges, mapping = canonicalize(full_t)
    full = {"triples": full_t, "nodes": nodes, "edges": edges, "mapping": mapping}
    for key in ("triples", "nodes", "edges", "mapping"):
        assert _rows(inc[key]) == _rows(full[key]), key
    return inc, full


@pytest.fixture(scope="module")
def bridged(spark):
    return _update_vs_full(spark, SNAP1, SNAP2)


def test_recanon_merges_bridged_clusters_and_equals_full_rebuild(
    spark, bridged
):
    inc, _ = bridged
    assert [r["url"] for r in changed_url_set(inc["changes"]).collect()] == [
        "https://r.test/a"
    ]

    # the bridge actually merged the two clusters
    names = {
        r["name"]: r["node_id"]
        for r in build_entity_nodes(inc["triples"]).collect()
    }
    got = _mapping_dict(inc["mapping"])
    a, b, bridge = (
        names["Alphabet Systems"],
        names["Betamax Systems"],
        names["Alphabet Betamax Systems"],
    )
    assert got[a] == got[b] == got[bridge]
    # and they were NOT merged before the change
    _, _, old_mapping = canonicalize(_linked(spark, SNAP1))
    old = _mapping_dict(old_mapping)
    assert old[a] != old[b]


def test_incremental_update_end_to_end_equals_full_rebuild(bridged):
    """The one-call incremental path re-extracts ONLY the changed page
    and returns the per-url classification alongside the tables (their
    equality with a full rebuild is asserted in the fixture)."""
    inc, _ = bridged
    changes = {r["url"]: r["change"] for r in inc["changes"].collect()}
    assert changes == {
        "https://r.test/a": "MODIFIED",
        "https://r.test/b": "UNCHANGED",
        "https://r.test/far": "UNCHANGED",
        "https://r.test/keep": "UNCHANGED",
    }


def test_min_name_flips_on_page_removal(spark):
    """NIL entity names are not functionally dependent on the id: two
    case variants of an unlinked surface share one node_id with different
    names. Deleting the page that held the min-sorting variant must flip
    the node's representative name."""
    snap1 = [
        _page("https://n.test/a", ["ZZYZX Widgets acquired Initech."]),
        _page("https://n.test/b", ["Zzyzx Widgets acquired Hooli."]),
    ]
    snap2 = [snap1[1]]  # the page with the uppercase variant is deleted
    inc, _ = _update_vs_full(spark, snap1, snap2)
    got = {r["name"] for r in inc["nodes"].collect()}
    assert "Zzyzx Widgets" in got and "ZZYZX Widgets" not in got


def test_removed_mention_of_surviving_entity(spark):
    """A modified page DROPS a mention of an entity that survives on
    unchanged pages with the same canon label: its mention count must
    shrink, as in a full rebuild."""
    snap1 = [
        _page("https://m.test/keep", ["Initech works at Gotham."]),
        _page("https://m.test/mod", ["Initech acquired Hooli."]),
    ]
    snap2 = [
        snap1[0],
        _page("https://m.test/mod", ["Globex acquired Hooli."]),
    ]
    inc, _ = _update_vs_full(spark, snap1, snap2)
    got = {r["name"]: r["n_mentions"] for r in inc["nodes"].collect()}
    assert got["Initech"] == 1


def test_cap_transition_equals_full_rebuild(spark, monkeypatch):
    """The MAX_BUCKET guard is corpus-membership-dependent — a delta node
    entering/leaving a bucket near the cap creates or destroys pairs
    between two UNTOUCHED nodes. Both directions must equal a full
    rebuild:

    * delete a member of an over-cap bucket -> bucket re-enabled ->
      the two surviving (untouched) suffix variants MERGE;
    * add a member to an at-cap bucket -> bucket dropped -> the
      previously merged pair SPLITS.
    """
    from blarify_spark.plans import canonicalize as canon_mod

    monkeypatch.setattr(canon_mod, "MAX_BUCKET", 2)

    p1 = _page("https://c.test/1", ["Quantum Widgets acquired Initech."])
    p2 = _page("https://c.test/2", ["Quantum Widgets Inc acquired Initech."])
    p3 = _page("https://c.test/3", ["Quantum Widgets Ltd acquired Initech."])

    def _canon_of(full, names):
        ids = {
            r["name"]: r["node_id"]
            for r in build_entity_nodes(full["triples"]).collect()
        }
        m = _mapping_dict(full["mapping"])
        return {m[ids[n]] for n in names}

    # direction 1: 3 identical-normalized names -> bucket size 3 > cap
    # (all singletons); deleting p3 re-enables the bucket -> merge
    _, full = _update_vs_full(spark, [p1, p2, p3], [p1, p2])
    assert len(_canon_of(full, ["Quantum Widgets", "Quantum Widgets Inc"])) == 1

    # direction 2: start merged at bucket size 2 == cap; adding p3 pushes
    # the bucket over the cap -> pairs vanish -> split
    _, full = _update_vs_full(spark, [p1, p2], [p1, p2, p3])
    names = ["Quantum Widgets", "Quantum Widgets Inc", "Quantum Widgets Ltd"]
    assert len(_canon_of(full, names)) == 3


def test_labeled_nodes_diff_tombstones_and_marks(spark, bridged):
    old_nodes, _, _ = canonicalize(_linked(spark, SNAP1))
    new_nodes = bridged[0]["nodes"]

    nd = labeled_nodes_diff(old_nodes, new_nodes)
    by_change = {
        r["change"]: r["n"]
        for r in nd.groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    # the merge rewrites the bridged cluster's canon: old per-cluster rows
    # become DELETED tombstones (kept, not dropped), the merged canon is
    # ADDED or MODIFIED, far components UNCHANGED
    assert by_change.get("DELETED", 0) >= 1
    assert by_change.get("UNCHANGED", 0) >= 2
    tomb = nd.filter(F.col("change") == "DELETED").collect()
    for r in tomb:  # tombstones carry their last-known payload
        assert r["name"] is not None and r["n_mentions"] is not None



def test_run_incremental_materializes_and_equals_full_pipeline(spark, tmp_path):
    """The materialized incremental path (run_incremental, consuming a
    previous run_pipeline snapshot's digests/linked/nodes/edges/mapping
    stages) writes manifest-committed stages equal to a full
    run_pipeline of the new snapshot."""
    from blarify_spark.plans.materialize import (
        run_incremental,
        run_pipeline,
        stage_committed,
    )

    out = str(tmp_path / "kg")
    run_pipeline(spark, pages_from_rows(spark, SNAP1), out, run_id="v1")
    inc = run_incremental(
        spark,
        pages_from_rows(spark, SNAP2),
        out,
        run_id="v2",
        prev_run_id="v1",
    )
    for stage in ["linked", "nodes", "edges", "mapping", "digests"]:
        assert stage_committed(out, "v2", stage), stage

    out_full = str(tmp_path / "kg_full")
    full = run_pipeline(
        spark, pages_from_rows(spark, SNAP2), out_full, run_id="vf"
    )

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(inc["nodes"]) == rows(full["nodes"])
    assert rows(inc["edges"]) == rows(full["edges"])
    assert rows(inc["mapping"]) == rows(full["mapping"])
    changes = {r["url"]: r["change"] for r in inc["changes"].collect()}
    assert changes["https://r.test/a"] == "MODIFIED"


def test_run_incremental_refreshes_persisted_workflow_layer(spark, tmp_path):
    """ADVICE r04: a workflow layer persisted by a prior
    run_pipeline(with_workflows=True) must not pass through the
    incremental patch untouched (its urls are never in changed_urls, its
    ids never in the mapping — it would go silently stale). run_incremental
    strips the layer before patching and re-derives it from the patched
    graph, so incremental tables == full rebuild WITH workflows."""
    from blarify_spark.plans.materialize import run_incremental, run_pipeline
    from blarify_spark.plans.workflows import PRED_BELONGS, PRED_STEP

    out = str(tmp_path / "kg")
    run_pipeline(
        spark,
        pages_from_rows(spark, SNAP1),
        out,
        run_id="v1",
        with_workflows=True,
    )
    inc = run_incremental(
        spark,
        pages_from_rows(spark, SNAP2),
        out,
        run_id="v2",
        prev_run_id="v1",
    )

    out_full = str(tmp_path / "kg_full")
    full = run_pipeline(
        spark,
        pages_from_rows(spark, SNAP2),
        out_full,
        run_id="vf",
        with_workflows=True,
    )

    def rows(df):
        cols = sorted(df.columns)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(inc["nodes"]) == rows(full["nodes"])
    assert rows(inc["edges"]) == rows(full["edges"])
    # and the refreshed layer is actually present (not merely stripped)
    wf_preds = {
        r["pred"]
        for r in inc["edges"]
        .filter(F.col("pred").isin(PRED_BELONGS, PRED_STEP))
        .select("pred")
        .distinct()
        .collect()
    }
    assert PRED_BELONGS in wf_preds
