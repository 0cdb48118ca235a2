"""Correctness checks applied to every timed run's committed snapshot.

* Extraction: on a seeded page sample, the (subj, pred, obj) set of the
  committed `linked` table against the pure-Python reference extractor
  (`blarify_spark.ref`) must reach precision and recall >= 0.95 overall
  and match exactly on the `simple` family, the same gate as the repo's
  PR-gate test.
* Incremental update: every compared table must equal a full rebuild of
  the new snapshot, by an order-free `bit_xor(xxhash64(row))` signature
  plus row count.
"""

from __future__ import annotations

from typing import Any, Iterable

from blarify_spark.ref import extract_text_bytes, extract_triples

PR_FLOOR = 0.95
# tables an incremental run must reproduce exactly (the raw pre-linking
# `triples` stage only exists on full builds)
COMPARED_TABLES = ("linked", "nodes", "edges", "mapping")

Triple = tuple[str, str, str, str]  # (url, subj, pred, obj)


def reference_triples(rows: Iterable[dict[str, Any]]) -> set[Triple]:
    """Reference triples as the `linked` table should hold them: linking
    drops self-loops, and a subject and object with the same surface
    (case-folded) always resolve to the same entity."""
    out = set()
    for row in rows:
        for t in extract_triples(extract_text_bytes(row["html"]), row["lang"]):
            if t["subj"].lower() != t["obj"].lower():
                out.add((row["url"], t["subj"], t["pred"], t["obj"]))
    return out


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    if not got or not expected:
        return 0.0, 0.0
    tp = len(got & expected)
    return tp / len(got), tp / len(expected)


def extraction_ok(
    got: set[Triple], expected: set[Triple], simple_urls: set[str]
) -> tuple[float, float, bool]:
    """(precision, recall, passed)."""
    precision, recall = precision_recall(got, expected)
    simple_got = {t for t in got if t[0] in simple_urls}
    simple_exp = {t for t in expected if t[0] in simple_urls}
    passed = (
        precision >= PR_FLOOR and recall >= PR_FLOOR and simple_got == simple_exp
    )
    return precision, recall, passed


def committed_triples(linked, urls: list[str]) -> set[Triple]:
    from pyspark.sql import functions as F

    rows = (
        linked.filter(F.col("url").isin(urls))
        .select("url", "subj", "pred", "obj")
        .collect()
    )
    return {(r["url"], r["subj"], r["pred"], r["obj"]) for r in rows}


def signature(df) -> tuple[int, int]:
    """(bit_xor of per-row xxhash64 over sorted columns, row count)."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row["s"]), int(row["n"])


def tables_match(
    got: dict[str, tuple[int, int]], reference: dict[str, tuple[int, int]]
) -> bool:
    return all(got.get(t) == reference[t] for t in COMPARED_TABLES)
