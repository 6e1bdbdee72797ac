"""Per-stage wall-clock profile of the KG pipeline: the one stage list
(pipeline.kg_stages) run with every stage materialized at its boundary.

Usage: python scripts/profile_pipeline.py [n_pages] [cpus]
       taskset -c 0-3 python scripts/profile_pipeline.py 1920000 4   # scaling

Input is the bench corpus (bench.prepare_corpus parquet, written once per
page count) with bench.run_pipeline_once's scan coalescing, after one
warm-up build. Stages run concurrently as in production, so the per-stage
times overlap; the last line is the same figures as JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
cpus = int(sys.argv[2]) if len(sys.argv) > 2 else os.cpu_count()

import bench  # noqa: E402
from ecokg_spark.operators.checkpoint import run_dag  # noqa: E402
from ecokg_spark.pipeline import kg_stages, release_all  # noqa: E402

spark = bench._spark(str(cpus))
path = bench.prepare_corpus(spark, n_pages)
bench.run_pipeline_once(spark, bench.prepare_corpus(spark, bench.WARMUP_PAGES, n_files=8), cpus)

T: dict[str, float] = {}


def materialize(name, build):
    t0 = time.time()
    df = build()
    if name != "resolution":  # resolution materializes itself (size gate)
        df = df.localCheckpoint(eager=True)
    T[name] = round(time.time() - t0, 3)
    return df


pages = spark.read.parquet(path).coalesce(max(min(cpus, 16), 4))
stages = kg_stages(spark, pages)
t0 = time.time()
run_dag(spark, stages, materialize)
wall = round(time.time() - t0, 3)
for name, _, _ in stages:
    print(f"{name:20s} {T[name]:8.3f}s")
print(f"{'wall':20s} {wall:8.3f}s   ({n_pages / wall:.1f} pages/s)")
print(json.dumps({"cpus": cpus, "pages": n_pages, "wall": wall, "stages": T}))
release_all(spark)
spark.stop()
