"""Durable spark-submit job: stage tables, lineage metrics, resume."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ecokg_spark.io import TableIO
from ecokg_spark.job import run_kg_job
from ecokg_spark.pipeline import build_kg
from ecokg_spark.sources.pages import synth_pages

N = 200
STAGES = ["termlist", "fused", "audit", "triples", "linked_raw", "quarantine",
          "canonical", "edges", "nodes", "stats_by_predicate", "stats_by_category"]


FRESH_JOBS_DISTRIBUTED_DIMS = 73


def _last_job_id(spark, group: str) -> int:
    """Id of a one-task job run under `group`; job ids are global and
    increasing, so two probes one id apart bracket zero jobs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_rows(got, want, stage: str) -> None:
    assert got.columns == want.columns, stage
    assert got.count() == want.count(), stage
    assert got.exceptAll(want).count() == 0, stage
    assert want.exceptAll(got).count() == 0, stage


def test_job_runs_resumes_and_matches_pipeline(spark, tmp_path):
    wh = str(tmp_path / "wh")
    pages = synth_pages(spark, N).localCheckpoint(eager=True)
    io = TableIO(spark, warehouse=wh)

    before = _last_job_id(spark, "probe-fresh-before")
    r1 = run_kg_job(spark, pages, io, run_id="t1")
    fresh_jobs = _last_job_id(spark, "probe-fresh-after") - before - 1
    assert set(r1.timings) == set(STAGES)
    # a fresh run started 73 jobs while canonical and resolution ran as
    # distributed DAGs and every commit read-back inferred its schema
    assert fresh_jobs < FRESH_JOBS_DISTRIBUTED_DIMS, fresh_jobs
    n_edges = io.read("kg.edges").count()
    assert n_edges > 0
    # every stage table matches the in-memory pipeline's stage output exactly
    mem = build_kg(spark, pages)
    for stage in STAGES:
        _assert_same_rows(io.read(f"kg.{stage}"), mem[stage], stage)

    # lineage metrics exist per stage partition
    m = io.read("kg._checkpoints.edges")
    assert m.where(F.col("stage") == "edges").count() >= 1
    assert {"partition_id", "row_count", "key_fingerprint", "latency_s"} <= set(m.columns)

    # one data table + one commit record per stage, nothing else
    assert sorted(os.listdir(f"{wh}/kg")) == sorted([*STAGES, "_checkpoints"])
    assert sorted(os.listdir(f"{wh}/kg/_checkpoints")) == sorted(STAGES)

    # full resume: nothing recomputes, nothing is even read back
    before = _last_job_id(spark, "probe-before")
    r2 = run_kg_job(spark, pages, io, run_id="t2")
    assert _last_job_id(spark, "probe-after") == before + 1  # no job in between
    assert r2.timings == {}

    # partial resume: drop the edges stage and its commit record -> it and
    # only its downstream recompute
    shutil.rmtree(f"{wh}/kg/edges")
    shutil.rmtree(f"{wh}/kg/_checkpoints/edges")
    r3 = run_kg_job(spark, pages, io, run_id="t3")
    assert set(r3.timings) == {"edges", "nodes", "stats_by_predicate",
                               "stats_by_category"}
    # edges recomputed from the read-back fused and termlist tables, through
    # a resolution recomputed from them
    _assert_same_rows(io.read("kg.edges"), mem["edges"], "edges")


def test_tableio_merge_into_upsert_and_insert_only(spark, tmp_path):
    """merge_into (io.py): parquet-fallback MERGE semantics — matched rows
    replaced (update) or kept (ignore), unmatched inserted, replays
    idempotent. The Iceberg branch runs the same contract via MERGE INTO
    when a catalog is configured (none in this sandbox)."""
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    io.write(base, "kg.t", mode="overwrite")

    src = spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int")
    io.merge_into(src, "kg.t", keys=["k"])  # update mode
    got = {(r.k, r.v) for r in io.read("kg.t").collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3), ("d", 40)}

    # replay the same merge: idempotent (same final relation)
    io.merge_into(src, "kg.t", keys=["k"])
    assert {(r.k, r.v) for r in io.read("kg.t").collect()} == got

    # insert-only: matched key keeps its current value, new key lands
    src2 = spark.createDataFrame([("b", 99), ("e", 50)], "k string, v int")
    io.merge_into(src2, "kg.t", keys=["k"], when_matched="ignore")
    got2 = {(r.k, r.v) for r in io.read("kg.t").collect()}
    assert got2 == got | {("e", 50)}

    # first merge into a missing table creates it
    io.merge_into(src, "kg.fresh", keys=["k"])
    assert {(r.k, r.v) for r in io.read("kg.fresh").collect()} == {
        ("b", 20), ("d", 40)}


class _Crash(Exception):
    pass


@pytest.mark.parametrize("step", ["install", "cleanup"])
def test_merge_into_swap_survives_a_crash_between_steps(spark, tmp_path, monkeypatch, step):
    """A crash inside merge_into's "update" swap loses no table: the next
    committed() finishes the half-done swap and the table reads as merged.
    `install` dies as the staged table is renamed into place, `cleanup` as
    the old table is deleted."""
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    io.write(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), "kg.t")
    src = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")
    path = io._path("kg.t")
    rename, rmtree = os.rename, shutil.rmtree

    def crashing_rename(old, new):
        if step == "install" and new == path:
            raise _Crash
        rename(old, new)

    def crashing_rmtree(p, *args, **kwargs):
        if step == "cleanup" and p != path and p.startswith(path):
            raise _Crash
        rmtree(p, *args, **kwargs)

    monkeypatch.setattr(os, "rename", crashing_rename)
    monkeypatch.setattr(shutil, "rmtree", crashing_rmtree)
    with pytest.raises(_Crash):
        io.merge_into(src, "kg.t", keys=["k"])
    monkeypatch.undo()

    assert io.committed("kg.t")
    assert {tuple(r) for r in io.read("kg.t").collect()} == {("a", 1), ("b", 20), ("c", 30)}
    assert os.listdir(os.path.dirname(path)) == ["t"]
