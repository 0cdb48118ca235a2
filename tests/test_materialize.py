"""Materialize + resume + incremental-update tests (FIXTURES.md §3 gates)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from blarify_spark import corpus
from blarify_spark.plans.diff import classify_pages
from blarify_spark.plans.materialize import (
    materialize_stage,
    read_manifest,
    run_incremental,
    run_pipeline,
    stage_committed,
)
from blarify_spark.sources.pages import pages_from_rows


def _snap(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_out"))


@pytest.fixture(scope="module")
def both_entry_points(spark, fixture_pages, tmp_path_factory):
    """(out dir, {run id: returned tables}) for a fresh run_pipeline of
    the fixture pages and a run_incremental of its second snapshot."""
    out = str(tmp_path_factory.mktemp("kg_both"))
    snap2 = corpus.generate_incremental_snapshot(corpus.generate_pages(64))
    full = run_pipeline(spark, fixture_pages, out, run_id="p")
    inc = run_incremental(
        spark, pages_from_rows(spark, snap2), out, run_id="u", prev_run_id="p"
    )
    return out, {"p": full, "u": inc}


@pytest.mark.parametrize("run_id", ["p", "u"])
def test_manifests_match_committed_tables(spark, both_entry_points, run_id):
    """Every committed stage's manifest rows_out (summed from the parquet
    footers) equals the table's count, including the lang-partitioned
    extract stage and the salted edges stage; each returned DataFrame
    carries the schema an inferring read of its table gets."""
    out, tables = both_entry_points
    stages = sorted(
        os.path.basename(m)[: -len(".json")]
        for m in glob.glob(os.path.join(out, "_manifest", run_id, "*.json"))
    )
    assert {"linked", "nodes", "edges", "mapping", "digests"} <= set(stages)
    if run_id == "p":
        assert "extract" in stages
    for stage in stages:
        m = read_manifest(out, run_id, stage)
        committed = spark.read.parquet(os.path.join(out, run_id, stage))
        assert m["rows_out"] == committed.count(), stage
        assert sum(r["rows_out"] for r in m["lineage"]) == m["rows_out"]
        if stage in tables[run_id]:
            assert tables[run_id][stage].schema == committed.schema, stage
    edges = read_manifest(out, run_id, "edges")
    assert edges["n_partitions"] > 1  # salted writers, one row per file


def test_incremental_changes_read_checkpointed_blocks(both_entry_points):
    """run_incremental classifies the re-crawl once: the returned
    `changes` plan is a scan of checkpointed blocks, so provenance and
    the changed-url set cannot re-run classify's full-outer join."""
    _, tables = both_entry_points
    plan = tables["u"]["changes"]._jdf.queryExecution().toString()
    assert "Join" not in plan
    assert "ExistingRDD" in plan


def test_fresh_stage_commit_runs_one_job(spark, tmp_path):
    """A fresh commit is its write job only: the lineage comes from the
    parquet footers and the read-back carries the written schema, so no
    lineage aggregate and no schema-inference read runs."""
    sc = spark.sparkContext
    out = str(tmp_path / "kg")
    sc.setJobGroup("stage_commit_job_budget", "stage commit job budget")
    try:
        got = materialize_stage(spark, out, "r1", "s", lambda: spark.range(10))
    finally:
        sc.setJobGroup("", "")
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("stage_commit_job_budget")
    assert len(jobs) == 1, jobs
    assert read_manifest(out, "r1", "s")["rows_out"] == 10
    assert got.schema == spark.read.parquet(os.path.join(out, "r1", "s")).schema
    assert sorted(r["id"] for r in got.collect()) == list(range(10))


def test_full_pipeline_materializes_with_manifests(spark, fixture_pages, out_dir):
    tables = run_pipeline(spark, fixture_pages, out_dir, run_id="r1")
    assert tables["triples"].count() > 100
    assert tables["nodes"].count() > 10
    assert tables["edges"].count() > 100
    for stage in ["extract", "triples", "linked", "nodes", "edges"]:
        assert stage_committed(out_dir, "r1", stage), stage
        m = read_manifest(out_dir, "r1", stage)
        assert m["rows_out"] > 0
        assert sum(r["rows_out"] for r in m["lineage"]) == m["rows_out"]


def test_resume_skips_completed_stages_and_is_identical(
    spark, fixture_pages, out_dir
):
    before = _snap(
        spark.read.parquet(os.path.join(out_dir, "r1", "edges")),
        ["url", "pred", "subj_id", "obj_id"],
    )
    # simulate kill-after-stage-k: drop manifests for the last two stages
    for stage in ["nodes", "edges"]:
        os.remove(os.path.join(out_dir, "_manifest", "r1", f"{stage}.json"))
        shutil.rmtree(os.path.join(out_dir, "r1", stage))
    tables = run_pipeline(spark, fixture_pages, out_dir, run_id="r1")
    after = _snap(tables["edges"], ["url", "pred", "subj_id", "obj_id"])
    assert before == after


def test_rerun_full_is_idempotent(spark, fixture_pages, out_dir, tmp_path):
    d2 = str(tmp_path / "kg2")
    t1 = run_pipeline(spark, fixture_pages, out_dir, run_id="r1")
    t2 = run_pipeline(spark, fixture_pages, d2, run_id="rX")
    cols = ["url", "pred", "subj_id", "obj_id", "subj", "obj"]
    assert _snap(t1["edges"], cols) == _snap(t2["edges"], cols)


def test_classify_pages_diff(spark, fixture_pages):
    rows = corpus.generate_pages(64)
    snap2 = pages_from_rows(spark, corpus.generate_incremental_snapshot(rows))
    changes = classify_pages(fixture_pages, snap2)
    counts = {
        r["change"]: r["n"]
        for r in changes.groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    assert counts["ADDED"] == 3
    assert counts["DELETED"] == 1
    assert counts["MODIFIED"] == 2
    assert counts["UNCHANGED"] == 61


def test_classify_pages_moved_urls(spark, fixture_pages):
    """Renamed urls match via relative_id: content-identical -> MOVED,
    edited -> MODIFIED, both with old_url; no ADDED/DELETED residue."""
    rows = corpus.generate_pages(64)
    snap = pages_from_rows(spark, corpus.generate_moved_snapshot(rows))
    changes = classify_pages(fixture_pages, snap).cache()
    by_change = {
        r["change"]: r["n"]
        for r in changes.groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    assert by_change.get("MOVED") == 1
    assert by_change.get("MODIFIED") == 1
    assert "ADDED" not in by_change
    assert "DELETED" not in by_change
    moved = changes.filter(F.col("old_url").isNotNull()).collect()
    assert len(moved) == 2
    for r in moved:
        assert r["url"].startswith("https://mirror.test/")
        assert r["old_url"] != r["url"]
        # relative path preserved across the move
        assert r["url"].split("/", 3)[3] == r["old_url"].split("/", 3)[3]


def test_classify_pages_null_html_uses_text_hash(spark):
    """Pages with html=NULL (pre-extracted text) must diff on text, not
    classify as ADDED via md5(NULL)=NULL."""
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    old = spark.createDataFrame(
        [
            ("u://a", None, None, "same text", "en"),
            ("u://b", None, None, "old text", "en"),
            ("u://gone", None, None, "bye", "en"),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("u://a", None, None, "same text", "en"),
            ("u://b", None, None, "new text", "en"),
        ],
        schema,
    )
    got = {
        r["url"]: r["change"] for r in classify_pages(old, new).collect()
    }
    assert got == {
        "u://a": "UNCHANGED",
        "u://b": "MODIFIED",
        "u://gone": "DELETED",
    }


def test_classify_warns_on_digest_family_mismatch(spark):
    """ADVICE r03: a digests side whose hash family differs from the
    md5-computing side degrades every comparison to MODIFIED — correct
    but a silent near-full recompute. It must warn; matching families
    (our own stored md5-tagged digests) must stay silent."""
    import warnings as _w

    dschema = "url string, warc_ts timestamp, content_hash string"
    pschema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    new = spark.createDataFrame(
        [("u://a", None, b"<p>x</p>", None, "en")], pschema
    )
    foreign = spark.createDataFrame([("u://a", None, "sha1:abc")], dschema)
    with pytest.warns(RuntimeWarning, match="digest families are disjoint"):
        got = {
            r["url"]: r["change"]
            for r in classify_pages(foreign, new).collect()
        }
    assert got == {"u://a": "MODIFIED"}  # degraded, but still correct

    # our own digests: md5-tagged values -> same family, no warning
    from blarify_spark.plans.diff import _content_hash

    own = new.select("url", "warc_ts", _content_hash(new).alias("content_hash"))
    first = own.select("content_hash").first()["content_hash"]
    assert first.startswith("md5:")
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = {
            r["url"]: r["change"] for r in classify_pages(own, new).collect()
        }
    assert got == {"u://a": "UNCHANGED"}

    # legacy UNtagged md5 hex (written by a pre-tagging version of this
    # pipeline) must be recognized as the md5 family (ADVICE r04) — no
    # warning, and the page classifies UNCHANGED, not MODIFIED
    legacy = own.select(
        "url",
        "warc_ts",
        F.regexp_replace("content_hash", "^md5:", "").alias("content_hash"),
    )
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        got = {
            r["url"]: r["change"]
            for r in classify_pages(legacy, new).collect()
        }
    assert got == {"u://a": "UNCHANGED"}


def test_edges_partitioning_spreads_head_entity(spark, fixture_pages, out_dir):
    """Salted write: the dominant head entity must span >1 output partition."""
    edges = spark.read.parquet(os.path.join(out_dir, "r1", "edges"))
    hooli = edges.filter(F.col("subj") == "Hooli")
    nfiles = (
        hooli.select(F.input_file_name().alias("f")).distinct().count()
    )
    assert hooli.count() >= 8
    assert nfiles > 1  # head entity spread across multiple writer outputs


def test_classify_pages_moved_reverse_collision(spark):
    """Two ADDED urls sharing one relative_id must not BOTH claim the
    single deleted page (ADVICE r02): exactly one MOVED row per deleted
    old_url; the losing new url stays ADDED."""
    import datetime

    mk = lambda url, text: {
        "url": url,
        "warc_ts": datetime.datetime(2025, 1, 1),
        "html": None,
        "text": text,
        "lang": "en",
    }
    old = pages_from_rows(spark, [mk("https://a.test/page/x", "same text")])
    new = pages_from_rows(
        spark,
        [
            mk("https://b.test/page/x", "same text"),  # min url -> wins
            mk("https://c.test/page/x", "same text"),  # loser -> ADDED
        ],
    )
    changes = {r["url"]: r for r in classify_pages(old, new).collect()}
    assert changes["https://b.test/page/x"]["change"] == "MOVED"
    assert changes["https://b.test/page/x"]["old_url"] == "https://a.test/page/x"
    assert changes["https://c.test/page/x"]["change"] == "ADDED"
    assert changes["https://c.test/page/x"]["old_url"] is None
    # the deleted page is claimed exactly once -> no DELETED residue
    assert "https://a.test/page/x" not in changes


def test_classify_pages_uses_ingest_time_content_hash(spark):
    """When snapshots carry a content_hash column (the WARC payload
    digest analog), classify must trust it instead of re-hashing page
    bytes — proven by giving identical html but different hashes."""
    import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content_hash", T.StringType()),
        ]
    )
    ts = datetime.datetime(2025, 1, 1)
    html = b"<html><body><p>same bytes</p></body></html>"
    old = spark.createDataFrame(
        [("https://h.test/p", ts, html, None, "en", "digest-v1")], schema
    )
    new = spark.createDataFrame(
        [("https://h.test/p", ts, html, None, "en", "digest-v2")], schema
    )
    got = classify_pages(old, new).collect()
    assert len(got) == 1 and got[0]["change"] == "MODIFIED"
    # same digest -> UNCHANGED, still no byte hashing needed
    same = classify_pages(old, old).collect()
    assert same[0]["change"] == "UNCHANGED"


def test_stage_commit_adopts_complete_uncommitted_data(spark, tmp_path):
    """OCC commit protocol (round 5): a complete final directory whose
    writer crashed between the atomic rename and the manifest write is
    ADOPTED (stages are deterministic) — compute must not re-run."""
    from blarify_spark.plans.materialize import (
        materialize_stage,
        read_manifest,
        stage_committed,
    )

    out = str(tmp_path / "kg")
    df = spark.range(10).withColumnRenamed("id", "v")
    got = materialize_stage(spark, out, "r1", "s", lambda: df, resume=True)
    assert got.count() == 10
    # simulate the crash window: manifest gone, data complete
    from blarify_spark.plans.materialize import _manifest_path
    os.remove(_manifest_path(out, "r1", "s"))
    assert not stage_committed(out, "r1", "s")

    def _boom():
        raise AssertionError("compute must not re-run over complete data")

    adopted = materialize_stage(spark, out, "r1", "s", _boom, resume=True)
    assert adopted.count() == 10
    assert stage_committed(out, "r1", "s")
    assert read_manifest(out, "r1", "s")["rows_out"] == 10


def test_stage_commit_loser_adopts_winners_table(spark, tmp_path):
    """OCC commit protocol: when a concurrent writer claims the final
    path between this writer's compute and its rename, the rename fails
    atomically and the loser adopts the winner's table; the loser's
    staging output is discarded."""
    from blarify_spark.plans.materialize import (
        _manifest_path,
        materialize_stage,
    )

    out = str(tmp_path / "kg")
    winner = spark.range(7).withColumnRenamed("id", "v")

    def compute_and_lose():
        # side effect: the "concurrent" winner lands and claims the
        # path while this writer is still computing; dropping its
        # manifest makes the loser exercise the rename-conflict adopt
        # (not the resume fast path)
        materialize_stage(
            spark, out, "r1", "s", lambda: winner, resume=True
        )
        os.remove(_manifest_path(out, "r1", "s"))
        return spark.range(999).withColumnRenamed("id", "v")

    got = materialize_stage(
        spark, out, "r1", "s", compute_and_lose, resume=False
    )
    # the pre-compute check saw no final dir (the winner landed DURING
    # compute), so the conflict surfaces at rename time
    assert got.count() == 7  # the winner's table, not the loser's 999
    staging = os.path.join(out, "r1", ".staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_stage_commit_discards_partial_final_dir(spark, tmp_path):
    """A final directory WITHOUT parquet _SUCCESS (a partial write from
    the pre-staging layout) is discarded and recomputed."""
    from blarify_spark.plans.materialize import materialize_stage

    out = str(tmp_path / "kg")
    partial = os.path.join(out, "r1", "s")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-garbage"), "w") as fh:
        fh.write("not parquet")
    df = spark.range(5).withColumnRenamed("id", "v")
    got = materialize_stage(spark, out, "r1", "s", lambda: df, resume=True)
    assert got.count() == 5
