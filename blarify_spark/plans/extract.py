"""Stage 1 — per-page extraction (shuffle-free, embarrassingly parallel).

The Spark restatement of blarify's phase A (hierarchy build): each file is
parsed independently and emits nodes — here each page independently emits
extracted text, mentions, and SVO triples
(reference: blarify/project_graph_creator.py:69-138,
blarify/code_hierarchy/tree_sitter_helper.py:72-175). Because emission is
per-row, this stage is a single narrow map over the scan: no shuffle, no
skew, whole plan = Scan -> Filter(pushdown) -> ArrowEval -> Generate(explode).

Failure policy mirrors blarify's RAW fallback (tree_sitter_helper.py:83-86):
undecodable pages get extract_status='raw' and empty text; they are kept,
never dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from blarify_spark.functions.udfs import (
    extract_all_udf,
    extract_mentions_udf,
    extract_text_udf,
    extract_triples_udf,
)


def extract_all_stage(pages: DataFrame) -> DataFrame:
    """Single-crossing extraction: html enters Python exactly ONCE per
    page, emitting text + enriched mentions (tokens, embedding) + triples
    as one struct. The downstream explodes and the whole linking stage are
    pure JVM — this is the hot-path plan (the split stages below remain as
    the parity/compat surface).

    Partitioning note (measured, round 6): the input's split is taken
    AS-IS. A coalesce-to-cores "fan_in" before the Python crossing was
    prototyped — each Arrow task carries ~0.2-0.3 s of fixed JVM<->Python
    latency, so on TINY pages fewer tasks win (128->32 tasks halved the
    sf0.1 extract stage) — but on heavy pages the same coalesce lost 25%
    wall on the 8-core scaling arm (83 s vs 62 s at 48k 48-96-fact
    pages): fat single-wave tasks push multi-thousand-row Arrow batches
    through conversion and lose all wave-level smoothing. Task weight
    is not knowable at plan time, so the split is left to the caller,
    who does know.

    Output: pages columns + text, extract_status, mentions, triples.
    """
    ex = extract_all_udf(F.col("html"), F.col("text"), F.col("lang"))
    out = pages.withColumn("_ex", ex).select(
        "url",
        "warc_ts",
        "lang",
        *(["family"] if "family" in pages.columns else []),
        F.col("_ex.text").alias("text"),
        F.col("_ex.mentions").alias("mentions"),
        F.col("_ex.triples").alias("triples"),
        F.col("_ex.text_skeleton").alias("text_skeleton"),
        F.when(
            F.col("html").isNotNull() & (F.length("_ex.text") == 0), F.lit("raw")
        )
        .otherwise(F.lit("ok"))
        .alias("extract_status"),
    )
    return out


def triples_from(all_df: DataFrame) -> DataFrame:
    """Explode the fused extraction's triple arrays (JVM-only)."""
    return all_df.select(
        "url", "warc_ts", "lang", F.explode("triples").alias("t")
    ).select("url", "warc_ts", "lang", "t.*")


def mentions_from(all_df: DataFrame) -> DataFrame:
    """Explode the fused extraction's mention arrays (JVM-only), with the
    same deterministic md5 mention ids as mentions_stage."""
    return (
        all_df.select("url", "lang", F.explode("mentions").alias("m"))
        .select("url", "lang", "m.*")
        .withColumn(
            "mention_id",
            F.md5(
                F.concat_ws(
                    "\x1f", F.col("url"), F.col("span_start"), F.col("span_end")
                )
            ),
        )
    )


def extract_text_stage(pages: DataFrame) -> DataFrame:
    """pages(+html) -> pages(+text, +extract_status).

    Pages whose `text` is already populated (e.g. re-runs over partially
    extracted snapshots) are passed through untouched — the idempotency
    contract (blarify analog: apoc.merge upsert semantics,
    neo4j_manager.py:128-142).
    """
    extracted = F.when(
        F.col("text").isNotNull(), F.col("text")
    ).otherwise(extract_text_udf(F.col("html")))
    return pages.withColumn("text", extracted).withColumn(
        "extract_status",
        F.when(
            F.col("html").isNotNull() & (F.length("text") == 0), F.lit("raw")
        ).otherwise(F.lit("ok")),
    )


def triples_stage(pages_with_text: DataFrame) -> DataFrame:
    """-> triples(url, warc_ts, lang, subj, pred, obj, span_start, span_end).

    One UDF evaluation per page, then a Generate (explode) — Catalyst keeps
    this in the same stage as the scan; provenance columns ride along.
    """
    return (
        pages_with_text.withColumn(
            "_t", extract_triples_udf(F.col("text"), F.col("lang"))
        )
        .select(
            "url",
            "warc_ts",
            "lang",
            F.explode("_t").alias("t"),
        )
        .select("url", "warc_ts", "lang", "t.*")
    )


def mentions_stage(pages_with_text: DataFrame) -> DataFrame:
    """-> mentions(url, mention_id, surface, span_start, span_end, sentence_idx).

    mention_id is content-derived (md5 of url+span) — deterministic under
    any parallelism, like blarify's hashed node IDs
    (graph/node/utils/id_calculator.py:10-12); never
    monotonically_increasing_id.
    """
    return (
        pages_with_text.withColumn("_m", extract_mentions_udf(F.col("text")))
        .select("url", "lang", F.explode("_m").alias("m"))
        .select("url", "lang", "m.*")
        .withColumn(
            "mention_id",
            F.md5(
                F.concat_ws(
                    "\x1f", F.col("url"), F.col("span_start"), F.col("span_end")
                )
            ),
        )
    )
