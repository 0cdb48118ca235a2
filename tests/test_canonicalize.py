"""Canonicalization tests: LSH blocking, components, merge/split decisions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blarify_spark.plans.canonicalize import (
    candidate_pairs,
    canonicalize,
    char_shingles,
    connected_components,
    normalized_name,
)
from blarify_spark.plans.extract import (
    extract_text_stage,
    mentions_stage,
    triples_stage,
)
from blarify_spark.plans.linking import link_mentions, link_triples
from blarify_spark.sources.alias import alias_dict


def _nodes_df(spark, names):
    return spark.createDataFrame(
        [(f"id{i:03d}", n, 1) for i, n in enumerate(names)],
        ["node_id", "name", "n_mentions"],
    )


def test_normalized_name_and_shingles(spark):
    df = spark.createDataFrame([("Acme Corp.",), ("Hooli Inc",)], ["name"])
    rows = df.select(
        normalized_name(F.col("name")).alias("nn"),
        char_shingles(normalized_name(F.col("name"))).alias("sh"),
    ).collect()
    assert rows[0]["nn"] == "acme"
    assert rows[1]["nn"] == "hooli"
    assert set(rows[1]["sh"]) == {"hoo", "ool", "oli"}


def test_candidate_pairs_merge_and_split(spark):
    names = [
        "Gavin Belson",
        "Gavin Belsen",       # typo twin -> must pair
        "Hooli",
        "Hooli Inc",          # suffix twin -> must pair (identical normalized)
        "Pied Piper",
        "Mercury (planet)",
        "Mercury (element)",  # must NOT pair with planet sense
    ]
    nodes = _nodes_df(spark, names)
    pairs = {(r["src"], r["dst"]) for r in candidate_pairs(nodes).collect()}
    assert ("id000", "id001") in pairs
    assert ("id002", "id003") in pairs
    assert ("id005", "id006") not in pairs
    # no spurious pair involving Pied Piper
    assert not any("id004" in p for p in pairs)


def test_connected_components_transitive_and_cyclic(spark):
    # chain a-b-c plus cycle d-e-f-d, singleton g
    nodes = _nodes_df(spark, list("abcdefg"))
    pairs = spark.createDataFrame(
        [
            ("id000", "id001", 1.0),
            ("id001", "id002", 1.0),
            ("id003", "id004", 1.0),
            ("id004", "id005", 1.0),
            ("id003", "id005", 1.0),  # cycle closure
        ],
        ["src", "dst", "jaccard"],
    )
    labels = {
        r["node_id"]: r["canon_id"]
        for r in connected_components(nodes, pairs).collect()
    }
    assert labels["id000"] == labels["id001"] == labels["id002"] == "id000"
    assert labels["id003"] == labels["id004"] == labels["id005"] == "id003"
    assert labels["id006"] == "id006"


@pytest.fixture(scope="module")
def kg(spark, fixture_pages):
    pages = extract_text_stage(fixture_pages).cache()
    lm = link_mentions(mentions_stage(pages), alias_dict(spark))
    lt = link_triples(triples_stage(pages), lm)
    nodes, edges, mapping = canonicalize(lt)
    return nodes.cache(), edges.cache(), mapping.cache()


def test_pipeline_canonicalization_counts(kg):
    nodes, edges, mapping = kg
    # idempotent exact dedup: canon ids unique
    assert nodes.select("canon_id").distinct().count() == nodes.count()
    # every edge endpoint exists in nodes (FK integrity, S8 analog)
    n_ids = nodes.select(F.col("canon_id").alias("k"))
    dangling_s = edges.join(
        n_ids, edges.subj_id == n_ids.k, "left_anti"
    ).count()
    dangling_o = edges.join(
        n_ids, edges.obj_id == n_ids.k, "left_anti"
    ).count()
    assert dangling_s == 0 and dangling_o == 0


def test_pipeline_mercury_senses_stay_split(kg):
    nodes, _, _ = kg
    mercuries = [
        r["name"]
        for r in nodes.filter(F.lower(F.col("name")).contains("mercury")).collect()
    ]
    assert len(mercuries) >= 2  # planet + element survive as distinct


def test_pipeline_run_twice_identical(spark, fixture_pages):
    """Determinism/idempotency: same input -> byte-identical node table."""
    pages = extract_text_stage(fixture_pages)
    lm = link_mentions(mentions_stage(pages), alias_dict(spark))
    lt = link_triples(triples_stage(pages), lm)
    n1, e1, _ = canonicalize(lt)
    n2, e2, _ = canonicalize(lt)
    assert sorted(map(tuple, n1.collect())) == sorted(map(tuple, n2.collect()))
    assert e1.count() == e2.count()


def test_exact_canonical_counts_pinned(spark, fixture_pages):
    """FIXTURES.md §3 gate: exact node and edge counts after
    canonicalization on the deterministic 64-page corpus (regression pin —
    any change to extraction/linking/merging semantics must consciously
    update these numbers)."""
    from blarify_spark.plans.extract import (
        extract_all_stage,
        mentions_from,
        triples_from,
    )
    from blarify_spark.plans.linking import resolve_triples
    from blarify_spark.sources.alias import alias_dict

    ext = extract_all_stage(fixture_pages)
    lt = resolve_triples(
        triples_from(ext), mentions_from(ext), alias_dict(spark)
    )
    nodes, edges, _ = canonicalize(lt)
    # (updated for the E4 per-language corpus: de/fr simple pages render
    # translated predicate phrases, shifting the seeded fact mix)
    assert lt.count() == 186
    assert nodes.count() == 38
    assert edges.count() == 186


def test_cc_local_and_distributed_paths_agree(spark, monkeypatch):
    """Round-5 adaptive CC: the local union-find fast path (small pair
    graphs) must produce labels identical to the distributed
    min-propagation loop — both pick min(node_id) per component."""
    import blarify_spark.plans.canonicalize as C

    pairs = spark.createDataFrame(
        [
            ("b", "a", 1.0),  # chain a-b-c
            ("c", "b", 1.0),
            ("e", "d", 1.0),  # pair d-e
            ("x", "y", 1.0),  # order-reversed pair
        ],
        "src string, dst string, jaccard double",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in ["a", "b", "c", "d", "e", "x", "y", "solo"]],
        "node_id string",
    )

    local = {
        r["node_id"]: r["canon_id"]
        for r in C.connected_components(nodes, pairs).collect()
    }
    monkeypatch.setattr(C, "CC_LOCAL_MAX_PAIRS", -1)  # force the loop
    looped = {
        r["node_id"]: r["canon_id"]
        for r in C.connected_components(nodes, pairs).collect()
    }
    assert local == looped
    assert local == {
        "a": "a", "b": "a", "c": "a",
        "d": "d", "e": "d",
        "x": "x", "y": "x",
        "solo": "solo",
    }


def test_canonicalize_reads_relanded_path(spark, tmp_path):
    """A parquet path re-landed in the same session (a deleted run
    re-run under its run id: materialize_stage stages, then renames into
    place) must canonicalize to its NEW rows, not to rows cached by an
    earlier canonicalize of that path."""
    import shutil

    from blarify_spark.plans.materialize import materialize_stage

    out_dir = str(tmp_path / "kg")

    def land(subj, obj):
        def compute():
            return spark.createDataFrame(
                [
                    (
                        "https://x.test/1",
                        "acquired",
                        f"id-{subj}",
                        subj,
                        subj,
                        f"id-{obj}",
                        obj,
                        obj,
                        0,
                        10,
                    )
                ],
                "url string, pred string, subj_id string, subj_name string, "
                "subj string, obj_id string, obj_name string, obj string, "
                "span_start int, span_end int",
            ).withColumn("warc_ts", F.current_timestamp())

        shutil.rmtree(out_dir, ignore_errors=True)
        return materialize_stage(spark, out_dir, "r1", "linked", compute)

    def names(linked):
        nodes, _, _ = canonicalize(linked)
        return {r["name"] for r in nodes.collect()}

    assert names(land("Alpha", "Beta")) == {"Alpha", "Beta"}
    assert names(land("Gamma", "Delta")) == {"Gamma", "Delta"}
