"""Per-layer tracing for the benchmark's traced run.

Spans are recorded here, in the benchmark, around the calls into each
layer's public function; the program itself is not changed. `instrument`
swaps each layer function for a wrapper that

1. opens a span and tags the layer's Spark jobs with a job description
   naming the span (`kgbench:<layer>#<span id>`),
2. calls the real function,
3. forces the result with an action at the layer boundary (persist +
   count), so the layer's work runs inside its span instead of inside a
   later stage's write.

After the run, `attribute` joins the spans with the Spark event log:
each job belongs to the span named in its description, each task to its
stage's job. Layer metrics sum over that layer's spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from typing import Any, Callable, Iterator

TAG = "kgbench:"


class Tracer:
    def __init__(self, sc: Any) -> None:  # a SparkContext- SparkContext
        self.sc = sc
        self.spans: list[dict[str, Any]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    def names_open(self) -> list[str]:
        return [self.spans[i]["name"] for i in self._stack]

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any]]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(f"{TAG}{name}#{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{TAG}{self.spans[parent]['name']}#{parent}"
                if parent is not None
                else None
            )

    def count(self, key: str, value: float) -> None:
        self.counts[key] += value


# ---------------------------------------------------------------------------
# Layer wrappers
# ---------------------------------------------------------------------------


def _is_nil(side: str):
    """1 where the linked endpoint is the NIL entity of its own surface
    (linking's md5("nil:" + lower(surface)) id), else 0."""
    from pyspark.sql import functions as F

    return (
        F.col(f"{side}_id") == F.md5(F.concat(F.lit("nil:"), F.lower(F.col(side))))
    ).cast("long")


def _force(df):
    df = df.persist()
    return df, df.count()


def _wrappers(tr: Tracer) -> list[tuple[Any, str, Callable]]:
    from pyspark.sql import functions as F

    from blarify_spark.plans import (
        canonicalize as canon_mod,
        diff as diff_mod,
        extract as extract_mod,
        linking as link_mod,
        materialize as mat_mod,
        recanon as recanon_mod,
    )

    real_extract_all = extract_mod.extract_all_stage
    real_triples_from = extract_mod.triples_from
    real_mentions_from = extract_mod.mentions_from
    real_resolve = link_mod.resolve_triples
    real_canon = canon_mod.canonicalize
    real_stage = mat_mod.materialize_stage
    real_classify = diff_mod.classify_pages
    real_update = recanon_mod.incremental_update

    def extract_all_stage(pages):
        with tr.span("extract"):
            out = real_extract_all(pages).persist()
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("extract_status") == "raw").cast("long")).alias("raw"),
            ).collect()[0]
        tr.count("extract.pages", row["n"])
        tr.count("extract.raw_pages", row["raw"] or 0)
        if "recanon" in tr.names_open():
            tr.count("recanon.reextracted_pages", row["n"])
        return out

    def triples_from(df):
        with tr.span("extract"):
            out, n = _force(real_triples_from(df))
        tr.count("extract.triples_out", n)
        return out

    def mentions_from(df):
        with tr.span("extract"):
            out, n = _force(real_mentions_from(df))
        tr.count("extract.mentions_out", n)
        return out

    def resolve_triples(*args, **kwargs):
        with tr.span("link"):
            out = real_resolve(*args, **kwargs).persist()
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(_is_nil("subj") + _is_nil("obj")).alias("nil"),
            ).collect()[0]
        tr.count("link.rows_out", row["n"])
        tr.count("link.nil_endpoints", row["nil"] or 0)
        return out

    def canonicalize(linked):
        with tr.span("canon"):
            nodes, edges, mapping = real_canon(linked)
            nodes, n_out = _force(nodes)
            edges, _ = _force(edges)
            mapping, _ = _force(mapping)
            # counters the layer does not expose; their jobs run in a
            # child span so they do not count as the layer's own time
            with tr.span("trace"):
                raw = canon_mod.build_entity_nodes(linked)
                tr.count("canon.nodes_in", raw.count())
                tr.count("canon.candidate_pairs", canon_mod.candidate_pairs(raw).count())
        tr.count("canon.nodes_out", n_out)
        return nodes, edges, mapping

    def materialize_stage(spark, out_dir, run_id, stage, *args, **kwargs):
        with tr.span("materialize"):
            out = real_stage(spark, out_dir, run_id, stage, *args, **kwargs)
        n_bytes, n_files = dir_size(os.path.join(out_dir, run_id, stage))
        tr.count("materialize.bytes", n_bytes)
        tr.count("materialize.files", n_files)
        tr.count("materialize.stages", 1)
        return out

    def classify_pages(*args, **kwargs):
        with tr.span("diff"):
            out = real_classify(*args, **kwargs).persist()
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("change") != "UNCHANGED").cast("long")).alias("changed"),
            ).collect()[0]
        tr.count("diff.pages", row["n"])
        tr.count("diff.changed_pages", row["changed"] or 0)
        return out

    def incremental_update(*args, **kwargs):
        with tr.span("recanon"):
            out = dict(real_update(*args, **kwargs))
            for key in ("triples", "nodes", "edges", "mapping"):
                out[key], _ = _force(out[key])
            with tr.span("trace"):
                old_triples = args[2] if len(args) > 2 else kwargs["old_triples"]
                changed = recanon_mod.changed_url_set(out["changes"])
                tr.count(
                    "recanon.affected_nodes",
                    recanon_mod.delta_ids(old_triples, out["triples"], changed).count(),
                )
                tr.count("recanon.nodes", out["mapping"].count())
        return out

    return [
        (extract_mod, "extract_all_stage", extract_all_stage),
        (extract_mod, "triples_from", triples_from),
        (extract_mod, "mentions_from", mentions_from),
        (link_mod, "resolve_triples", resolve_triples),
        (canon_mod, "canonicalize", canonicalize),
        (mat_mod, "materialize_stage", materialize_stage),
        (diff_mod, "classify_pages", classify_pages),
        (recanon_mod, "incremental_update", incremental_update),
    ]


@contextlib.contextmanager
def instrument(tr: Tracer) -> Iterator[None]:
    """Patch the layer functions for the duration of the block.

    The entry points import these functions at call time, so a module
    attribute swap reaches them; the originals are restored on exit.
    """
    patches = _wrappers(tr)
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    try:
        for mod, name, fn in patches:
            setattr(mod, name, fn)
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under path."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# Attribution from the Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, Any]:
    """Jobs (with their span id) and per-job task totals."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    span = None
                    if desc and desc.startswith(TAG) and "#" in desc:
                        span = int(desc.rsplit("#", 1)[1])
                    jobs[ev["Job ID"]] = {
                        "span": span,
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                        "tasks": 0,
                        "gc_s": 0.0,
                        "spill_bytes": 0,
                        "shuffle_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return {"jobs": [j for j in jobs.values() if j["end"] is not None]}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(tr: Tracer, log: dict[str, Any]) -> dict[str, dict[str, float]]:
    """Per-layer totals: span_s, self_s, busy_s, driver_gap_s, jobs,
    tasks, gc_s, spill_bytes, shuffle_bytes."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in tr.spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    own_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in log["jobs"]:
        if j["span"] is not None:
            own_jobs[j["span"]].append(j)

    out: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        agg = out.setdefault(
            s["name"],
            dict.fromkeys(
                (
                    "span_s",
                    "self_s",
                    "busy_s",
                    "driver_gap_s",
                    "jobs",
                    "tasks",
                    "gc_s",
                    "spill_bytes",
                    "shuffle_bytes",
                ),
                0.0,
            ),
        )
        span_s = s["end"] - s["start"]
        self_s = span_s - _union([(c["start"], c["end"]) for c in children[s["id"]]])
        jobs = own_jobs[s["id"]]
        busy = _union([(j["start"], j["end"]) for j in jobs])
        agg["span_s"] += span_s
        agg["self_s"] += self_s
        agg["busy_s"] += busy
        agg["driver_gap_s"] += max(0.0, self_s - busy)
        agg["jobs"] += len(jobs)
        for key in ("tasks", "gc_s", "spill_bytes", "shuffle_bytes"):
            agg[key] += sum(j[key] for j in jobs)
    return out
