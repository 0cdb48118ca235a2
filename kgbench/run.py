"""KG-construction benchmark: one workload per invocation.

    python3 kgbench/run.py --workload build_heavy --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Each invocation starts one Spark session
on local[nproc], generates its seeded `pages` table, sets up, then times
the workload's entry point until `--seconds` have passed (at least once)
and checks every timed run's committed output. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 1` it also makes one traced run, and the metrics are the
per-layer ones instead of the end-to-end ones.

See kgbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Any

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".kgbench_work"
CORES = len(os.sched_getaffinity(0))
SAMPLE_PAGES = 16

WORKLOADS = {
    # full build over heavy pages: extraction's Python crossing, linking
    # and the large edge/triple writes
    "build_heavy": {"pages": 160},
    # ~1% of the pages re-crawled under one host, applied incrementally to
    # a base snapshot built in set-up
    "update_recrawl": {"pages": 150},
}

END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "table_bytes": "bytes",
    "spo_precision": "ratio",
    "spo_recall": "ratio",
    "ok_ratio": "ratio",
    "setup_s": "s",
}

LAYERS = ("sources", "extract", "link", "canon", "materialize", "diff", "recanon")
_LAYER_COMMON = {
    "self_s": "s",
    "tasks": "count",
    "spill_bytes": "bytes",
    "driver_gap_s": "s",
    "busy_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "sources.scan_s": "s",
    "sources.pages": "count",
    "sources.html_bytes": "bytes",
    "extract.pages_per_s": "1/s",
    "extract.raw_ratio": "ratio",
    "extract.triples_out": "count",
    "extract.mentions_out": "count",
    "extract.gc_s": "s",
    "link.shuffle_bytes": "bytes",
    "link.nil_ratio": "ratio",
    "link.rows_out": "count",
    "canon.candidate_pairs": "count",
    "canon.merge_ratio": "ratio",
    "canon.spark_jobs": "count",
    "canon.shuffle_bytes": "bytes",
    "materialize.bytes": "bytes",
    "materialize.files": "count",
    "materialize.stages": "count",
    "diff.changed_pages": "count",
    "diff.changed_ratio": "ratio",
    "recanon.reextracted_pages": "count",
    "recanon.affected_ratio": "ratio",
    **{
        f"{layer}.{key}": unit
        for layer in LAYERS
        for key, unit in _LAYER_COMMON.items()
    },
    "trace.overhead_s": "s",
    "host.steal_pct": "%",
}


class RunIds:
    """Unique (run id, out dir) per run: materialize_stage returns an
    already-committed stage without work, so no two runs may share one."""

    def __init__(self, workload: str, seed: int) -> None:
        self.prefix = f"{workload}-s{seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        self._n = itertools.count()

    def next(self) -> str:
        return f"{self.prefix}-{next(self._n):03d}"


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, work: Path) -> None:
        self.workload = workload
        self.seed = seed
        self.work = work
        self.ids = RunIds(workload, seed)
        self.samples: list[dict[str, Any]] = []
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}

    # -- set-up -------------------------------------------------------------

    def start_session(self, trace: bool) -> None:
        from blarify_spark.session import ensure_workers_can_import, get_spark

        conf = {
            # -XX:-UsePerfData: no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            os.makedirs(self.work / "eventlog")
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(self.work / "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(cores=CORES, app_name="kgbench", extra_conf=conf)
        ensure_workers_can_import(self.spark)
        self.setup["session.start_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self._warm_workers()
        self.setup["session.worker_warm_s"] = time.perf_counter() - t0

    def _warm_workers(self) -> None:
        sc = self.spark.sparkContext
        sc.parallelize(range(CORES), CORES).map(lambda x: x).count()

    def write_pages(self, rows: list[dict[str, Any]], name: str) -> str:
        from blarify_spark.sources.pages import pages_from_rows, write_pages

        path = str(self.work / name)
        write_pages(pages_from_rows(self.spark, rows), path)
        return path

    def pages(self, path: str):
        from blarify_spark.sources.pages import read_pages, scan_pages

        return scan_pages(read_pages(self.spark, path))

    def set_up(self, trace: bool) -> None:
        from kgbench import gen

        t0 = time.perf_counter()
        self.start_session(trace)
        t1 = time.perf_counter()
        self.rows = gen.heavy_pages(self.seed, WORKLOADS[self.workload]["pages"])
        self.by_url = {r["url"]: r for r in self.rows}
        self.pages_path = self.write_pages(self.rows, "pages_v1")
        self.setup["pages_s"] = time.perf_counter() - t1
        sample = gen.sample_urls(self.rows, self.seed, SAMPLE_PAGES)
        if self.workload == "update_recrawl":
            t1 = time.perf_counter()
            self._set_up_update(gen, sample)
            self.setup["snapshots_s"] = time.perf_counter() - t1
        self.sample = sorted(set(sample))
        self._expected = None
        self.setup["setup_s"] = time.perf_counter() - t0

    def _set_up_update(self, gen, sample: list[str]) -> None:
        """Base snapshot of the old pages and the full-rebuild reference of
        the new ones, built concurrently on the one session."""
        from blarify_spark.plans.materialize import run_pipeline

        from kgbench import check

        new_rows, self.changed = gen.recrawl_delta(self.rows, self.seed)
        self.rows = new_rows
        self.by_url = {r["url"]: r for r in new_rows}
        self.new_path = self.write_pages(new_rows, "pages_v2")
        # the changed pages are always in the checked sample
        sample.extend(self.changed)
        self.base_dir = str(self.work / "base")
        self.base_id = "base"
        ref_dir = str(self.work / "reference")
        with ThreadPoolExecutor(2) as pool:
            base = pool.submit(
                run_pipeline,
                self.spark,
                self.pages(self.pages_path),
                self.base_dir,
                run_id=self.base_id,
            )
            ref = pool.submit(
                run_pipeline,
                self.spark,
                self.pages(self.new_path),
                ref_dir,
                run_id="reference",
            )
            ref_tables = ref.result()
            base.result()
        self.reference = {t: check.signature(ref_tables[t]) for t in check.COMPARED_TABLES}

    # -- one timed unit of work ---------------------------------------------

    def prepare(self, run_id: str) -> str:
        """Untimed: a fresh out dir (holding a copy of the base snapshot
        for an update)."""
        out_dir = str(self.work / "runs" / run_id)
        if self.workload == "update_recrawl":
            shutil.copytree(self.base_dir, out_dir)
        return out_dir

    def entry(self, out_dir: str, run_id: str) -> dict:
        from blarify_spark.plans.materialize import run_incremental, run_pipeline

        if self.workload == "build_heavy":
            return run_pipeline(
                self.spark, self.pages(self.pages_path), out_dir, run_id=run_id
            )
        return run_incremental(
            self.spark,
            self.pages(self.new_path),
            out_dir,
            run_id=run_id,
            prev_run_id=self.base_id,
        )

    def expected(self) -> set:
        from kgbench import check

        if self._expected is None:
            self._expected = check.reference_triples(
                self.by_url[u] for u in self.sample
            )
        return self._expected

    def verify(self, tables: dict) -> dict[str, Any]:
        from kgbench import check

        got = check.committed_triples(tables["linked"], self.sample)
        simple = {u for u in self.sample if self.by_url[u]["family"] == "simple"}
        precision, recall, ok = check.extraction_ok(got, self.expected(), simple)
        if self.workload == "update_recrawl":
            sigs = {t: check.signature(tables[t]) for t in check.COMPARED_TABLES}
            ok = ok and check.tables_match(sigs, self.reference)
        return {"spo_precision": precision, "spo_recall": recall, "ok": ok}

    def timed_run(self) -> None:
        from kgbench import procstat, trace

        run_id = self.ids.next()
        out_dir = self.prepare(run_id)
        pid = os.getpid()
        self.attempted += 1
        try:
            steal0, total0 = procstat.cpu_times()
            cpu0 = procstat.tree_cpu_s(pid)
            with procstat.RssSampler(pid) as rss:
                t0 = time.perf_counter()
                tables = self.entry(out_dir, run_id)
                wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s(pid) - cpu0
            steal1, total1 = procstat.cpu_times()
            triples = tables["linked"].count()
            result = self.verify(tables)
        except Exception:  # a failed run is counted, never dropped
            traceback.print_exc()
            self.failed += 1
            return
        if not result["ok"]:
            self.failed += 1
        self.samples.append(
            {
                "run_id": run_id,
                "wall_s": wall,
                "triples_per_s": triples / wall,
                "cpu_s": cpu,
                "peak_rss_mb": rss.peak / 2**20,
                "table_bytes": trace.dir_size(os.path.join(out_dir, run_id))[0],
                "steal_pct": 100 * (steal1 - steal0) / max(1, total1 - total0),
                **result,
            }
        )
        shutil.rmtree(out_dir, ignore_errors=True)

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while self.attempted == 0 or time.perf_counter() - t0 < seconds:
            self.timed_run()

    def end_to_end(self) -> dict[str, float]:
        ok = [s for s in self.samples if s["ok"]]
        out = {
            key: _median([s[key] for s in ok])
            for key in (
                "wall_s",
                "triples_per_s",
                "cpu_s",
                "peak_rss_mb",
                "table_bytes",
            )
        }
        out["spo_precision"] = min((s["spo_precision"] for s in self.samples), default=0.0)
        out["spo_recall"] = min((s["spo_recall"] for s in self.samples), default=0.0)
        out["ok_ratio"] = (self.attempted - self.failed) / self.attempted
        out["setup_s"] = self.setup["setup_s"]
        return out

    # -- traced run ------------------------------------------------------------

    def traced_run(self) -> None:
        from pyspark.sql import functions as F

        from kgbench import trace

        tr = trace.Tracer(self.spark.sparkContext)
        run_id = self.ids.next()
        out_dir = self.prepare(run_id)
        path = self.pages_path if self.workload == "build_heavy" else self.new_path
        root = "pipeline" if self.workload == "build_heavy" else "update"
        with trace.instrument(tr), tr.span(root) as root_span:
            with tr.span("sources"):
                row = self.pages(path).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("html")).alias("bytes"),
                ).collect()[0]
            tr.count("sources.pages", row["n"])
            tr.count("sources.html_bytes", row["bytes"])
            tables = self.entry(out_dir, run_id)
        traced_wall = root_span["end"] - root_span["start"]
        if not self.verify(tables)["ok"]:
            raise RuntimeError("traced run produced an incorrect snapshot")
        self.spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)
        self.tracer = tr
        self.traced_wall = traced_wall

    def scaling_eff(self) -> float:
        """(1-core wall / nproc-core wall) / nproc, a diagnostic.

        Each side is one run on a fresh context in this (already warm) JVM,
        after the same worker warm-up, so both sides start alike."""
        from blarify_spark.session import get_spark

        walls = {}
        for cores in (1, CORES):
            self.spark.stop()
            self.spark = get_spark(
                cores=cores,
                app_name=f"kgbench-{cores}core",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            self._warm_workers()
            run_id = self.ids.next()
            out_dir = self.prepare(run_id)
            t0 = time.perf_counter()
            self.entry(out_dir, run_id)
            walls[cores] = time.perf_counter() - t0
            shutil.rmtree(out_dir, ignore_errors=True)
        return walls[1] / walls[CORES] / CORES

    def per_layer(self, event_log: dict) -> dict[str, float]:
        from kgbench import trace

        tr = self.tracer
        layers = trace.attribute(tr, event_log)
        c = tr.counts
        m: dict[str, float] = {
            "session.start_s": self.setup["session.start_s"],
            "session.worker_warm_s": self.setup["session.worker_warm_s"],
        }

        def get(layer: str, key: str) -> float:
            return layers.get(layer, {}).get(key, 0.0)

        for layer in LAYERS:
            for key in _LAYER_COMMON:
                m[f"{layer}.{key}"] = get(layer, key)

        def ratio(a: float, b: float) -> float:
            return a / b if b else 0.0

        m.update(
            {
                "sources.scan_s": get("sources", "span_s"),
                "sources.pages": c["sources.pages"],
                "sources.html_bytes": c["sources.html_bytes"],
                "extract.pages_per_s": ratio(c["extract.pages"], get("extract", "self_s")),
                "extract.raw_ratio": ratio(c["extract.raw_pages"], c["extract.pages"]),
                "extract.triples_out": c["extract.triples_out"],
                "extract.mentions_out": c["extract.mentions_out"],
                "extract.gc_s": get("extract", "gc_s"),
                "link.shuffle_bytes": get("link", "shuffle_bytes"),
                "link.nil_ratio": ratio(c["link.nil_endpoints"], 2 * c["link.rows_out"]),
                "link.rows_out": c["link.rows_out"],
                "canon.candidate_pairs": c["canon.candidate_pairs"],
                "canon.merge_ratio": ratio(c["canon.nodes_out"], c["canon.nodes_in"]),
                "canon.spark_jobs": get("canon", "jobs"),
                "canon.shuffle_bytes": get("canon", "shuffle_bytes"),
                "materialize.bytes": c["materialize.bytes"],
                "materialize.files": c["materialize.files"],
                "materialize.stages": c["materialize.stages"],
                "diff.changed_pages": c["diff.changed_pages"],
                "diff.changed_ratio": ratio(c["diff.changed_pages"], c["diff.pages"]),
                "recanon.reextracted_pages": c["recanon.reextracted_pages"],
                "recanon.affected_ratio": ratio(
                    c["recanon.affected_nodes"], c["recanon.nodes"]
                ),
            }
        )
        wall = self.end_to_end()["wall_s"]
        m["trace.overhead_s"] = self.traced_wall - wall
        m["host.steal_pct"] = _median([s["steal_pct"] for s in self.samples])
        return m


def _shutdown_jvm() -> None:
    """Stop the JVM the session launched, then wait for it and for every
    process it started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from kgbench import procstat

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    left = procstat.wait_gone(pids, timeout=30)
    if left:
        print(f"kgbench: terminated lingering processes {left}", file=sys.stderr)


def _report(metrics: dict[str, float], units: dict[str, str]) -> dict:
    return {
        name: {"value": float(metrics[name]), "unit": unit}
        for name, unit in units.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kgbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "blarify_spark" / "__init__.py").is_file():
        print(f"kgbench: no blarify_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    work = WORK_ROOT / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work / "tmp")
    # keep every temporary file of the driver, the JVM and the workers
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit's short-lived launcher JVM, likewise
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

    bench = Bench(args.workload, args.seed, work)
    try:
        bench.set_up(trace=bool(args.trace))
        bench.measure(args.seconds)
        e2e = bench.end_to_end()
        if args.trace:
            from kgbench import trace

            bench.traced_run()
            bench.spark.stop()  # flushes the event log
            log = trace.read_event_log(str(work / "eventlog"))
            metrics = _report(bench.per_layer(log), PER_LAYER)
            diagnostics = {}
            if args.workload == "build_heavy":
                diagnostics["trace.scaling_eff"] = bench.scaling_eff()
            spans_out = WORK_ROOT / f"trace-{args.workload}-s{args.seed}.json"
            with open(spans_out, "w") as fh:
                json.dump(
                    {
                        "spans": bench.tracer.spans,
                        "counts": bench.tracer.counts,
                        "diagnostics": diagnostics,
                    },
                    fh,
                    indent=1,
                )
            for name, value in diagnostics.items():
                print(f"diagnostic {name} = {value:.4f}")
            print(f"spans written to {spans_out}")
        else:
            metrics = _report(e2e, END_TO_END)
    finally:
        spark = getattr(bench, "spark", None)
        if spark is not None:
            spark.stop()
            _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for s in bench.samples:
        print(
            f"run {s['run_id']}: wall {s['wall_s']:.3f} s, cpu {s['cpu_s']:.2f} s, "
            f"steal {s['steal_pct']:.2f}%, ok {s['ok']}"
        )
    print(
        f"{args.workload}: {len(bench.samples)} timed samples; set-up "
        + ", ".join(f"{k} {v:.2f}" for k, v in bench.setup.items())
    )
    for name, rec in metrics.items():
        print(f"  {name} = {rec['value']} {rec['unit']}")
    correct = bench.failed == 0 and bool(bench.samples)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
