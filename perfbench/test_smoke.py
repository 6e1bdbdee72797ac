"""Smoke test of the benchmark: every workload once at tiny size, untraced
and traced; every metric named in BENCHMARK.json must come back with its
unit, and the traced run must leave spans for the layers it calls.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session (about half a minute to a minute).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import SIZES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

# layers each workload's traced operation must reach
LAYERS = {
    "crawl": {"fused", "linking", "components", "pipeline", "merge", "stats"},
    "vocab": {"fused", "linking", "components", "pipeline", "merge", "stats"},
    "crawl_durable": {"fused", "linking", "components", "pipeline", "merge", "stats",
                      "checkpoint"},
    "serve": {"query", "io"},
}


def _run(workload: str, trace: int, seed: int = 0) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0.1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def test_every_benchmark_workload_has_a_size():
    assert {w["name"] for w in BENCH["workloads"]} <= set(SIZES["full"])
    assert set(SIZES["tiny"]) == set(SIZES["full"]) == set(LAYERS)


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_untraced(workload):
    report, res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, report["errors"]
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for man in report["inputs"]:
        assert man["seed"] == 0 and man["size"] == SIZES["tiny"][workload]["n"]
        assert man["fingerprint"] and man["files_sha"]
    assert report["canary"]["matches"]
    assert report["cpus"] >= 1 and report["settings"]["master"].startswith("local[")
    assert report["workload_metrics"]["failed_ratio"] == {"value": 0.0, "unit": "ratio"}


@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_traced(workload):
    for old in glob.glob(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-0-*.json")):
        os.remove(old)
    report, res = _run(workload, 1)
    assert res["correct"], report["errors"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for layer in LAYERS[workload]:
        assert res["metrics"][f"{layer}.self_s"]["value"] > 0, layer
    spans = []
    for path in glob.glob(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-0-*.json")):
        with open(path) as f:
            spans += json.load(f)["spans"]
    assert spans
    assert all(set(s) >= {"id", "name", "layer", "parent", "run", "start", "end"} for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)
    assert LAYERS[workload] <= {s["layer"] for s in spans}
