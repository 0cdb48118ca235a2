"""CLI entrypoint: run the KG pipeline end-to-end.

Local:
    python -m blarify_spark --pages <parquet dir|synthetic:N> --out <dir>

Cluster (the BASELINE.json north_rule invocation shape):
    spark-submit --py-files blarify_spark.zip -m ... (same flags)

Reads a pages table (url, warc_ts, html, text, lang), runs
extract -> link -> canonicalize -> materialize with checkpoint manifests,
prints a one-line JSON summary. Re-running with the same --run-id resumes
from the last committed stage.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="blarify_spark")
    ap.add_argument(
        "--pages",
        required=True,
        help="parquet dir of pages, or 'synthetic:N' for N fixture pages",
    )
    ap.add_argument("--out", required=True, help="output table root dir")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument(
        "--no-resume", action="store_true", help="recompute every stage"
    )
    ap.add_argument(
        "--update-from-run",
        default=None,
        metavar="PREV_RUN_ID",
        help="incremental update: re-extract only pages that changed vs "
        "this previous run's committed snapshot (same --out dir) and "
        "canonicalize the updated linked table",
    )
    args = ap.parse_args(argv)

    from blarify_spark.session import ensure_workers_can_import, get_spark

    spark = get_spark(cores=args.cores, app_name="blarify_spark_cli")
    ensure_workers_can_import(spark)

    if args.pages.startswith("synthetic:"):
        from blarify_spark import corpus
        from blarify_spark.sources.pages import pages_from_rows

        n = int(args.pages.split(":", 1)[1])
        pages = pages_from_rows(spark, corpus.generate_pages(n))
    else:
        from blarify_spark.sources.pages import read_pages, scan_pages

        pages = scan_pages(read_pages(spark, args.pages))

    from blarify_spark.plans.materialize import (
        read_manifest,
        run_incremental,
        run_pipeline,
    )

    t0 = time.perf_counter()
    if args.update_from_run:
        run_incremental(
            spark,
            pages,
            args.out,
            run_id=args.run_id,
            prev_run_id=args.update_from_run,
            resume=not args.no_resume,
        )
    else:
        run_pipeline(
            spark, pages, args.out, run_id=args.run_id, resume=not args.no_resume
        )

    def rows_out(stage: str) -> int:
        # the committed stage's manifest row count: no Spark job
        return read_manifest(args.out, args.run_id, stage)["rows_out"]

    summary = {
        "out": args.out,
        "run_id": args.run_id,
        "updated_from": args.update_from_run,
        # entity-RESOLVED triple count — same stage and semantics for
        # full and incremental runs (the raw pre-linking stage only
        # exists on full runs, so it never appears in the summary)
        "linked_triples": rows_out("linked"),
        "nodes": rows_out("nodes"),
        "edges": rows_out("edges"),
        "wall_sec": round(time.perf_counter() - t0, 2),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
