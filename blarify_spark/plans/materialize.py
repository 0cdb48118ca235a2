"""Stage 4 — materialize nodes/edges/triples with lineage + exactly-once resume.

Blarify persists via idempotent APOC merges in batches
(reference: blarify/repositories/graph_db_manager/neo4j_manager.py:87-197,
merge-on-key :128-142) and tracks long-running work with leased DB state
(processing_status / processing_run_id,
documentation/queries/batch_processing_queries.py:39-399). The Spark
restatement (SURVEY.md Q16 / §3.2):

* tables are partitioned parquet dirs (Iceberg DDL identical modulo
  `USING iceberg`; snapshot commit = our _SUCCESS marker + manifest row)
* idempotency comes from deterministic content-derived keys plus
  dropDuplicates before write — a re-run produces byte-identical tables
* the checkpoint manifest is a per-(run_id, stage) record with one
  lineage row per committed data file (writer partition id, row count),
  read from the parquet footers on the driver — no Spark job — and
  written ONLY after the stage's data commit succeeds; resume consults
  it and replays only missing stages — kill-after-stage-k then rerun
  yields identical output
* a fresh commit runs only its write: the table is read back under the
  schema it was written with, so no schema-inference job runs
* head-entity skew at write time is handled by salted repartitioning:
  the shuffle key is (subj_id, salt) so one dominant entity spreads over
  SALT_BUCKETS writers instead of one straggler task
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from blarify_spark.functions.checkpoint import cut_lineage as _cut

SALT_BUCKETS = 8

TRIPLE_COLS = [
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


# ---------------------------------------------------------------------------
# Checkpoint manifest
# ---------------------------------------------------------------------------


def _manifest_path(out_dir: str, run_id: str, stage: str) -> str:
    return os.path.join(out_dir, "_manifest", run_id, f"{stage}.json")


def stage_committed(out_dir: str, run_id: str, stage: str) -> bool:
    return os.path.exists(_manifest_path(out_dir, run_id, stage))


def read_manifest(out_dir: str, run_id: str, stage: str) -> dict:
    with open(_manifest_path(out_dir, run_id, stage)) as fh:
        return json.load(fh)


_DATA_FILE = re.compile(r"part-(\d+)-.*\.parquet")


def _file_lineage(path: str) -> list[dict]:
    """One lineage row per committed data file: the writer partition
    from its `part-NNNNN` name and the row count from its parquet footer.
    Read on the driver with pyarrow, so no Spark job runs. Hidden
    (`_`/`.`) entries are skipped, as the parquet reader skips them."""
    import pyarrow.parquet as pq

    rows = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d[0] not in "_."]
        for name in filenames:
            m = _DATA_FILE.fullmatch(name)
            if m is None:
                continue
            fpath = os.path.join(dirpath, name)
            rows.append(
                {
                    "partition_id": int(m.group(1)),
                    "file": os.path.relpath(fpath, path),
                    "rows_out": pq.read_metadata(fpath).num_rows,
                }
            )
    return sorted(rows, key=lambda r: (r["partition_id"], r["file"]))


def _commit_stage(out_dir: str, run_id: str, stage: str, path: str) -> None:
    """Write the stage's lineage rows, one per committed data file, then
    the manifest marker.

    The data files were already committed (parquet _SUCCESS + atomic
    rename) by the caller; their footers give each file's writer
    partition and row count. The manifest write is the stage's commit
    point — a crash between data write and manifest write causes a
    clean re-write of the same deterministic data on resume
    (idempotent), never a half-read.
    """
    lineage = _file_lineage(path)
    manifest = {
        "run_id": run_id,
        "stage": stage,
        "path": path,
        "rows_out": sum(r["rows_out"] for r in lineage),
        "n_partitions": len({r["partition_id"] for r in lineage}),
        "lineage": lineage,
    }
    mpath = _manifest_path(out_dir, run_id, stage)
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, mpath)  # atomic rename = commit


def _nullable(dt: T.DataType) -> T.DataType:
    """`dt` with every nested field, element and value nullable, as the
    parquet writer stores it."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _written_schema(
    df: DataFrame, partition_cols: list[str] | None
) -> T.StructType:
    """The schema `spark.read.parquet` infers for `df` once written:
    every field nullable, partition columns last. Reading the table back
    under it runs no schema-inference job."""
    fields = _nullable(df.schema).fields
    parts = partition_cols or []
    return T.StructType(
        [f for f in fields if f.name not in parts]
        + [f for p in parts for f in fields if f.name == p]
    )


def materialize_stage(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    stage: str,
    compute: Callable[[], DataFrame],
    partition_cols: list[str] | None = None,
    salt_on: str | None = None,
    resume: bool = True,
) -> DataFrame:
    """Run one pipeline stage with checkpoint-resume semantics.

    If the (run_id, stage) manifest exists, the stage is skipped and its
    output is read back (exactly-once). Otherwise compute -> write to a
    UNIQUE staging directory -> atomic rename claim -> commit manifest.

    Stage data is namespaced by run_id (out_dir/run_id/stage) so two runs
    over the same out_dir cannot cross-contaminate: a second run_id that
    crashes mid-write can never corrupt what the first run_id's manifest
    points at (its data lives in a different directory).

    Concurrent-writer isolation (the Iceberg optimistic-concurrency
    commit semantic, minus the catalog — reference idempotent-merge
    contract: blarify neo4j_manager.py:128-142): each writer lands its
    parquet in out_dir/run_id/.staging/<stage>-<unique>, then CLAIMS the
    final path with one atomic directory rename. Exactly one writer's
    rename succeeds; losers discard their staging output and adopt the
    winner's table (stages are deterministic, so the data is identical).
    Readers therefore never observe a half-written final directory, and
    two racing writers can no longer interleave a destructive overwrite.
    A complete-but-uncommitted final directory (winner crashed between
    rename and manifest) is adopted and committed on the next attempt;
    a partial legacy directory (no parquet _SUCCESS) is discarded.

    A fresh commit runs only the write's Spark jobs: the manifest's
    lineage comes from the parquet footers, and the returned DataFrame
    reads the table under the schema it was written with.
    """
    path = os.path.join(out_dir, run_id, stage)
    if resume and stage_committed(out_dir, run_id, stage):
        return spark.read.parquet(path)

    def _adopt() -> DataFrame:
        out = spark.read.parquet(path)
        if not stage_committed(out_dir, run_id, stage):
            _commit_stage(out_dir, run_id, stage, path)
        return out

    if os.path.isdir(path):
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            # complete data landed by a concurrent or crashed writer:
            # the rename claim is atomic, so _SUCCESS implies the whole
            # table — adopt it instead of recomputing
            return _adopt()
        shutil.rmtree(path)  # partial pre-staging-layout write

    df = compute()
    if salt_on is not None:
        # Composite shuffle key: head entity rows spread over SALT_BUCKETS
        # writer tasks instead of hot-spotting one. Explicit partition count
        # so AQE cannot coalesce the salt away (at cluster scale set this
        # to ~2-3x total cores).
        df = df.repartition(
            SALT_BUCKETS,
            F.col(salt_on),
            F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)),
        )
    staging = os.path.join(
        out_dir, run_id, ".staging", f"{stage}-{uuid.uuid4().hex}"
    )
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staging)
    try:
        os.rename(staging, path)  # atomic claim: exactly one winner
    except OSError:
        # lost the race — a concurrent writer claimed the path first
        shutil.rmtree(staging, ignore_errors=True)
        return _adopt()
    _commit_stage(out_dir, run_id, stage, path)
    return spark.read.schema(_written_schema(df, partition_cols)).parquet(path)


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------


def _memo(
    compute: Callable[[], dict[str, DataFrame]],
) -> Callable[[str], DataFrame]:
    """Table getter over one lazily-run compute: stages that share a
    plan (nodes/edges/mapping) run it once, and not at all when every
    one of them resumes from its manifest."""
    cache: dict[str, DataFrame] = {}

    def get(which: str) -> DataFrame:
        if not cache:
            cache.update(compute())
        return cache[which]

    return get


def _with_workflows(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """nodes/edges plus the workflow layer derived from them
    (plans/workflows.py; blarify queries.py:1600-1675)."""
    from blarify_spark.plans.workflows import (
        materialize_workflows,
        workflow_traces,
    )

    # cut lineage first: the traces loop joins the edge plan up to 20x,
    # and the workflow rows re-enter the same tables they were derived from
    nodes = nodes.transform(_cut)
    edges = edges.select(*TRIPLE_COLS).transform(_cut)
    return materialize_workflows(
        nodes, edges, workflow_traces({"nodes": nodes, "edges": edges})
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run0",
    resume: bool = True,
    with_workflows: bool = False,
) -> dict[str, DataFrame]:
    """pages -> {triples, nodes, edges} materialized under out_dir.

    Stage graph (each stage checkpoint-resumable):
      extract   : per-page text + raw status (shuffle-free)
      triples   : exploded SVO rows with provenance
      linked    : entity-resolved triples (broadcast linking)
      nodes     : canonical entity nodes
      edges     : canonical edges, salted repartition on subj_id

    with_workflows=True persists the workflow layer INTO nodes/edges
    (plans/workflows.py; blarify queries.py:1600-1675): WORKFLOW rows
    plus belongs_to_workflow / workflow_step edges with deterministic
    md5 workflow ids — a consumer of the written tables can query
    workflow membership directly.
    """
    from blarify_spark.plans.canonicalize import canonicalize
    from blarify_spark.plans.extract import (
        extract_all_stage,
        mentions_from,
        triples_from,
    )
    from blarify_spark.plans.linking import resolve_triples
    from blarify_spark.sources.alias import alias_dict

    # Fused extraction: html crosses into Python exactly once per page;
    # every later stage is JVM-only reads of this stage's output.
    extracted = materialize_stage(
        spark,
        out_dir,
        run_id,
        "extract",
        lambda: extract_all_stage(pages).withColumn(
            "warc_date", F.to_date("warc_ts")
        ),
        partition_cols=["lang"],
        resume=resume,
    )

    triples = materialize_stage(
        spark,
        out_dir,
        run_id,
        "triples",
        lambda: triples_from(extracted),
        resume=resume,
    )

    linked = materialize_stage(
        spark,
        out_dir,
        run_id,
        "linked",
        lambda: resolve_triples(
            triples, mentions_from(extracted), alias_dict(spark)
        ),
        resume=resume,
    )

    # canonicalize() yields nodes+edges+mapping together; compute once,
    # stage all three.
    def _canonical() -> dict[str, DataFrame]:
        nodes, edges, mapping = canonicalize(linked)
        if with_workflows:
            nodes, edges = _with_workflows(nodes, edges)
        return {"nodes": nodes, "edges": edges, "mapping": mapping}

    canon = _memo(_canonical)
    nodes = materialize_stage(
        spark, out_dir, run_id, "nodes", lambda: canon("nodes"), resume=resume
    )
    edges = materialize_stage(
        spark,
        out_dir,
        run_id,
        "edges",
        lambda: canon("edges").select(*TRIPLE_COLS),
        salt_on="subj_id",
        resume=resume,
    )
    # the two tables a FUTURE incremental update consumes (run_incremental):
    # the entity mapping, and per-url ingest digests so classify never
    # re-reads page bytes
    mapping = materialize_stage(
        spark,
        out_dir,
        run_id,
        "mapping",
        lambda: canon("mapping"),
        resume=resume,
    )
    from blarify_spark.plans.diff import _content_hash

    digests = materialize_stage(
        spark,
        out_dir,
        run_id,
        "digests",
        lambda: pages.select(
            "url", "warc_ts", _content_hash(pages).alias("content_hash")
        ),
        resume=resume,
    )
    return {
        "triples": triples,
        "linked": linked,
        "nodes": nodes,
        "edges": edges,
        "mapping": mapping,
        "digests": digests,
    }


def run_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    out_dir: str,
    run_id: str,
    prev_run_id: str,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Incremental successor to run_pipeline: update a previous run's
    materialized snapshot to `new_pages`, re-extracting only changed
    pages and canonicalizing the updated linked table
    (plans/recanon.py). Writes the same stage set under the new run_id,
    so further updates chain off it.
    """
    from blarify_spark.plans.diff import _content_hash
    from blarify_spark.plans.recanon import incremental_update
    from blarify_spark.plans.workflows import (
        PRED_BELONGS,
        PRED_STEP,
        WORKFLOW_URL_PREFIX,
    )
    from blarify_spark.sources.alias import alias_dict

    def _prev(stage: str) -> DataFrame:
        if not stage_committed(out_dir, prev_run_id, stage):
            raise FileNotFoundError(
                f"previous run {prev_run_id!r} has no committed {stage!r} "
                f"stage under {out_dir} — run the full pipeline first"
            )
        return spark.read.parquet(os.path.join(out_dir, prev_run_id, stage))

    # A previous run_pipeline(with_workflows=True) persisted the workflow
    # layer INTO nodes/edges; the update re-derives it from the new
    # canonical tables so they stay equal to a full rebuild.
    had_workflows = (
        _prev("edges")
        .filter(
            F.col("url").startswith(WORKFLOW_URL_PREFIX)
            | F.col("pred").isin(PRED_BELONGS, PRED_STEP)
        )
        .limit(1)
        .count()
        > 0
    )  # one bounded probe job

    out = incremental_update(
        _prev("digests"),  # url + content_hash is all classify needs
        new_pages,
        _prev("linked"),
        alias_dict(spark),
    )

    def _canonical() -> dict[str, DataFrame]:
        if not had_workflows:
            return out
        nodes, edges = _with_workflows(out["nodes"], out["edges"])
        return {**out, "nodes": nodes, "edges": edges}

    canon = _memo(_canonical)
    linked = materialize_stage(
        spark, out_dir, run_id, "linked", lambda: out["triples"], resume=resume
    )
    nodes = materialize_stage(
        spark, out_dir, run_id, "nodes", lambda: canon("nodes"), resume=resume
    )
    edges = materialize_stage(
        spark,
        out_dir,
        run_id,
        "edges",
        lambda: canon("edges").select(*TRIPLE_COLS),
        salt_on="subj_id",
        resume=resume,
    )
    mapping = materialize_stage(
        spark, out_dir, run_id, "mapping", lambda: out["mapping"], resume=resume
    )
    digests = materialize_stage(
        spark,
        out_dir,
        run_id,
        "digests",
        lambda: new_pages.select(
            "url", "warc_ts", _content_hash(new_pages).alias("content_hash")
        ),
        resume=resume,
    )
    # crawl-provenance attribution of this ingest session (the blarify
    # integration-layer analog, relationship_creator.py:241-404): which
    # crawl event modified which page-versions (span-attributed) and
    # which entities it affected. crawl_id = run_id, so a consumer joins
    # prov_edges -> prov_nodes to answer "what did ingest X change".
    from blarify_spark.plans.provenance import provenance_tables

    prov = _memo(
        lambda: dict(
            zip(("nodes", "edges"), provenance_tables(out["changes"], linked, run_id))
        )
    )
    prov_nodes = materialize_stage(
        spark, out_dir, run_id, "prov_nodes", lambda: prov("nodes"), resume=resume
    )
    prov_edges = materialize_stage(
        spark, out_dir, run_id, "prov_edges", lambda: prov("edges"), resume=resume
    )
    # ingest-session chain (PR -> commit INTEGRATION_SEQUENCE analog,
    # relationship_creator.py:217-238): each incremental run extends the
    # previous run's chain, so the batch's crawl history is one ordered
    # table — integration_sequence_edges() renders it as graph edges.
    def _chain() -> DataFrame:
        rows = [(os.path.basename(os.path.normpath(out_dir)), prev_run_id, 0)]
        if stage_committed(out_dir, prev_run_id, "crawl_chain"):
            prior = spark.read.parquet(
                os.path.join(out_dir, prev_run_id, "crawl_chain")
            )
            rows = [
                (r["batch_id"], r["crawl_id"], r["ord"])
                for r in prior.orderBy("ord").collect()  # O(#runs) rows
            ]
        rows.append((rows[0][0], run_id, rows[-1][2] + 1))
        return spark.createDataFrame(
            rows, "batch_id string, crawl_id string, ord int"
        )

    crawl_chain = materialize_stage(
        spark, out_dir, run_id, "crawl_chain", _chain, resume=resume
    )
    # NO "triples" key: run_pipeline's "triples" is the RAW pre-linking
    # stage, which an incremental run never materializes (only changed
    # pages re-extract). Exposing linked under the same name would give
    # the key different semantics per path (ADVICE r03) — consumers read
    # "linked" from both.
    return {
        "linked": linked,
        "nodes": nodes,
        "edges": edges,
        "mapping": mapping,
        "digests": digests,
        "changes": out["changes"],
        "prov_nodes": prov_nodes,
        "prov_edges": prov_edges,
        "crawl_chain": crawl_chain,
    }
