"""spark-submit entry for the durable KG-construction job.

Usage (cluster):
  python scripts/package_pyfiles.py                # -> dist/ecokg_spark.zip
  spark-submit --py-files dist/ecokg_spark.zip \
      scripts/run_kg_job.py --pages /data/pages_parquet \
      --warehouse /data/kg_warehouse --run-id prod1

Usage (sandbox smoke, synthetic corpus):
  python scripts/run_kg_job.py --synth 5000 --warehouse /tmp/kg_wh

Re-running with the same --warehouse RESUMES: committed stages are
skipped (and read back only where a stage that has to run needs them)
instead of recomputed (kill the job mid-run and rerun to see it skip
finished stages). Independent stages run concurrently, so the per-stage
timings overlap; the job's wall time is printed next to them.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="parquet path of the pages table")
    ap.add_argument("--synth", type=int, help="generate N synthetic pages instead")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from ecokg_spark.io import TableIO
    from ecokg_spark.job import run_kg_job
    from ecokg_spark.session import get_spark

    spark = get_spark(app_name="ecokg-kg-job", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        from ecokg_spark.sources.pages import synth_pages

        pages = synth_pages(spark, args.synth)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages / --synth is required")

    io = TableIO(spark, warehouse=args.warehouse)
    t0 = time.time()
    runner = run_kg_job(spark, pages, io, run_id=args.run_id,
                        resume=not args.no_resume)
    wall = time.time() - t0
    n_edges = io.read("kg.edges").count()
    n_nodes = io.read("kg.nodes").count()
    print(f"done in {wall:.1f}s wall: {n_nodes} nodes, {n_edges} edges")
    print("stage timings (s, overlapping):",
          {k: round(v, 2) for k, v in runner.timings.items()} or "(all resumed)")
    spark.stop()


if __name__ == "__main__":
    main()
