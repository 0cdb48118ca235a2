"""Incremental update — snapshot diff + selective recompute (§3.2 analog).

Blarify's incremental path deletes stale nodes by path, rebuilds only
changed files, and classifies ADDED/MODIFIED/DELETED by joining current
vs previous on relative_id with text-equivalence checks
(reference: blarify/prebuilt/graph_builder.py:178-235,
blarify/project_graph_diff_creator.py:131-179, updater
blarify/project_graph_updater.py:61-69).

Spark restatement: one full-outer join of the two snapshots on url with
content-hash comparison classifies every page. plans/recanon.py then
re-extracts only the changed urls; the new linked table is (previous
minus changed urls) union (recomputed) — deterministic keys make the
merge idempotent, mirroring apoc.merge upserts
(neo4j_manager.py:128-142).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F


def _content_hash(df: DataFrame) -> F.Column:
    """Null-safe, ALGO-TAGGED content identity ('algo:hex'). When the
    snapshot carries an ingest-time `content_hash` column (the
    WARC-Payload-Digest analog — crawl pipelines compute it at fetch
    time), use it and skip re-hashing the corpus bytes: at 10^12
    documents classify becomes a join over hashes instead of an md5 pass
    over every page body. Otherwise md5(html), falling back to md5(text)
    for pre-extracted pages with html=NULL, then '' so presence is never
    conflated with content (md5(NULL) is NULL and would misclassify).

    Digests self-describe their hash family (ADVICE r03): comparing an
    md5-derived digest against a crawl digest can never spuriously match,
    and _warn_on_digest_family_mismatch can detect the degraded case
    (every comparison failing -> near-full recompute) instead of it
    passing silently. Already-tagged values ('md5:...', 'warc:...') pass
    through. Untagged 32-char lowercase-hex values are tagged 'md5:' —
    they can only have come from this pipeline's own pre-tagging md5
    stage, so treating them as a foreign family would classify every
    surviving page MODIFIED on the first post-upgrade incremental run
    (ADVICE r04: a silent near-full recompute). Other untagged ingest
    digests get an 'ing:' prefix."""
    if "content_hash" in df.columns:
        # trusted-complete by contract: referencing the html fallback here
        # would force deserializing the page bytes for every row even when
        # the digest is always non-null (coalesce short-circuits the md5
        # COMPUTATION but not the column READ)
        raw = F.coalesce(F.col("content_hash"), F.lit(""))
        return (
            F.when(raw.contains(":"), raw)
            .when(
                raw.rlike("^[0-9a-f]{32}$"), F.concat(F.lit("md5:"), raw)
            )
            .otherwise(F.concat(F.lit("ing:"), raw))
        )
    return F.concat(
        F.lit("md5:"),
        F.coalesce(F.md5(F.col("html").cast("binary")), F.md5("text"), F.lit("")),
    )


def _warn_on_digest_family_mismatch(
    old_pages: DataFrame, new_pages: DataFrame
) -> None:
    """If the two snapshots' digests come from different hash families
    (e.g. a previous run's md5 digests vs fresh crawl digests), every
    hash comparison fails and classify degrades to labeling all surviving
    pages MODIFIED — correct output, but a silent near-full recompute.
    Probe the SET of tag prefixes per content_hash-carrying side (one
    small collect_set aggregate over a bounded sample — a single-row
    earlier probe could nondeterministically miss a mixed-family table,
    ADVICE r04); warn only if the two sides' family sets are DISJOINT
    (a shared family means at least some comparisons can succeed).
    Sides computing md5 inline are {'md5'} by construction."""
    fams: list[set] = []
    for df in (old_pages, new_pages):
        if "content_hash" in df.columns:
            row = (
                df.select(
                    F.substring_index(_content_hash(df), ":", 1).alias("f")
                )
                .limit(4096)
                .agg(F.collect_set("f").alias("fams"))
                .collect()
            )
            got = set(row[0]["fams"]) if row else set()
            fams.append(got or {"md5"})
        else:
            fams.append({"md5"})
    if fams[0].isdisjoint(fams[1]):
        warnings.warn(
            f"snapshot digest families are disjoint "
            f"({sorted(fams[0])!r} vs {sorted(fams[1])!r}): "
            "every surviving page will classify MODIFIED and the "
            "incremental path degrades to a near-full recompute. "
            "Re-ingest with matching digest algorithms, or provide "
            "html/text so both sides recompute md5.",
            RuntimeWarning,
            stacklevel=3,
        )


def _relative_id() -> F.Column:
    """Cross-version identity key: the url path with scheme+host stripped —
    the web analog of blarify's relative_id (env-prefix-stripped node path,
    utils/relative_id_calculator.py:3-7): a page moved to a new host keeps
    its relative id."""
    return F.regexp_replace("url", r"^[a-z][a-z0-9+.\-]*://[^/]+", "")


def classify_pages(old_pages: DataFrame, new_pages: DataFrame) -> DataFrame:
    """Full-outer join on url -> (url, change, old_url, new_hash) with
    change in ADDED | DELETED | MODIFIED | MOVED | UNCHANGED. new_hash
    is the new snapshot's tagged content digest (null for DELETED) — the
    provenance layer keys page-VERSION nodes on it.

    Presence is tracked with explicit per-side marker columns (never via
    hash nullability). A second pass matches leftover ADDED x DELETED rows
    on relative_id (blarify's renamed-path identity,
    project_graph_diff_creator.py:131-148): content-identical -> MOVED,
    content-changed -> MODIFIED; both carry old_url (null otherwise).
    """
    if "content_hash" in old_pages.columns or "content_hash" in new_pages.columns:
        _warn_on_digest_family_mismatch(old_pages, new_pages)
    o = old_pages.select(
        F.col("url").alias("o_url"),
        _content_hash(old_pages).alias("old_hash"),
        _relative_id().alias("o_rel"),
        F.lit(True).alias("in_old"),
    )
    n = new_pages.select(
        F.col("url").alias("n_url"),
        _content_hash(new_pages).alias("new_hash"),
        _relative_id().alias("n_rel"),
        F.lit(True).alias("in_new"),
    )
    base = o.join(n, o.o_url == n.n_url, "full_outer").select(
        F.coalesce("n_url", "o_url").alias("url"),
        F.when(F.col("in_old").isNull(), F.lit("ADDED"))
        .when(F.col("in_new").isNull(), F.lit("DELETED"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("MODIFIED"))
        .otherwise(F.lit("UNCHANGED"))
        .alias("change"),
        "old_hash",
        "new_hash",
        "o_rel",
        "n_rel",
    )

    added = base.filter(F.col("change") == "ADDED").select(
        "url", F.col("n_rel").alias("rel"), "new_hash"
    )
    deleted = base.filter(F.col("change") == "DELETED").select(
        F.col("url").alias("old_url"), F.col("o_rel").alias("rel"), "old_hash"
    )
    # deterministic 1:1 in BOTH directions: first pick the min old_url per
    # new url, then (the reverse collision, ADVICE r02) the min new url
    # per old_url — several ADDED urls sharing a relative id could each
    # claim the SAME deleted page, labeling genuinely-new pages MOVED with
    # a bogus old_url. Losers of the second pass fall back to ADDED via
    # the consumed anti-join below.
    moved = (
        added.join(deleted, "rel")
        .groupBy("url")
        .agg(
            F.min_by(
                F.struct("old_url", "old_hash", "new_hash"), F.col("old_url")
            ).alias("b")
        )
        .groupBy(F.col("b.old_url").alias("old_url"))
        .agg(F.min_by(F.struct("url", "b"), F.col("url")).alias("w"))
        .select(
            F.col("w.url").alias("url"),
            F.when(
                F.col("w.b.new_hash") == F.col("w.b.old_hash"), F.lit("MOVED")
            )
            .otherwise(F.lit("MODIFIED"))
            .alias("change"),
            "old_url",
            F.col("w.b.new_hash").alias("new_hash"),
        )
    )
    consumed = moved.select("url").unionAll(
        moved.select(F.col("old_url").alias("url"))
    )
    others = base.join(consumed, "url", "left_anti").select(
        "url",
        "change",
        F.lit(None).cast("string").alias("old_url"),
        "new_hash",
    )
    return others.unionByName(moved)
