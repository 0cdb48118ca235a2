"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from kgbench import check, gen, run

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def test_same_seed_same_pages_and_other_seed_differs():
    a = gen.heavy_pages(3, 40)
    b = gen.heavy_pages(3, 40)
    c = gen.heavy_pages(4, 40)
    assert [(r["url"], r["html"]) for r in a] == [(r["url"], r["html"]) for r in b]
    assert [r["html"] for r in a] != [r["html"] for r in c]


def test_recrawl_delta_is_seeded_and_clustered_in_one_prefix():
    rows = gen.heavy_pages(5, 300)
    new_a, changed_a = gen.recrawl_delta(rows, 5)
    new_b, changed_b = gen.recrawl_delta(rows, 5)
    assert changed_a == changed_b
    assert [r["html"] for r in new_a] == [r["html"] for r in new_b]
    assert len(changed_a) >= 2
    assert len({gen.url_prefix(u) for u in changed_a}) == 1
    old = {r["url"]: r["html"] for r in rows}
    edited = {r["url"] for r in new_a if r["html"] != old[r["url"]]}
    assert edited == set(changed_a)
    # the same distinct sentences, so the same entities and clusters
    assert _sentences(new_a) == _sentences(rows)


def _sentences(rows):
    return {p for r in rows for p in gen._PARA_RE.findall(r["html"])}


def test_metric_names_are_well_formed():
    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names + list(run.END_TO_END) + list(run.PER_LAYER):
        assert NAME_RE.fullmatch(name), name
    # the program reports exactly the metrics the spec declares
    assert set(run.END_TO_END) == {m["name"] for m in spec["end_to_end"]}
    assert set(run.PER_LAYER) == {m["name"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_check_rejects_snapshot_with_one_triple_dropped():
    rows = [r for r in gen.heavy_pages(6, 30) if r["family"] == "simple"][:4]
    expected = check.reference_triples(rows)
    simple = {r["url"] for r in rows}
    assert check.extraction_ok(set(expected), expected, simple)[2]
    dropped = set(expected)
    dropped.remove(sorted(dropped)[0])
    # recall stays far above 0.95, but the simple family must be exact
    precision, recall, passed = check.extraction_ok(dropped, expected, simple)
    assert recall > 0.95 and not passed


def test_table_signature_mismatch_is_rejected():
    ref = {t: (123, 10) for t in check.COMPARED_TABLES}
    assert check.tables_match(dict(ref), ref)
    assert not check.tables_match({**ref, "edges": (456, 9)}, ref)
    assert not check.tables_match({**ref, "nodes": (999, 10)}, ref)


def test_run_ids_never_repeat():
    a = run.RunIds("build_heavy", 1)
    b = run.RunIds("build_heavy", 1)
    ids = [a.next() for _ in range(500)] + [b.next() for _ in range(500)]
    assert len(set(ids)) == len(ids)
