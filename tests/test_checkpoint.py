"""Checkpoint/resume: stage materialization, lineage metrics, crash/resume
at every boundary of a stage DAG, and transient (never written) stages."""

import pytest
from pyspark.sql import functions as F

from ecokg_spark.io import TableIO
from ecokg_spark.operators.checkpoint import (
    StageError,
    StageRunner,
    partition_metrics,
    run_dag,
)


@pytest.fixture()
def io(spark, tmp_path):
    return TableIO(spark, warehouse=str(tmp_path / "wh"))


def test_stage_runs_once_and_resumes(spark, io):
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))

    r = StageRunner(io, run_id="t1", resume=True)
    out1 = r.run("stage_a", fn)
    assert out1.count() == 100 and calls["n"] == 1
    # second runner (fresh process semantics): resume reads, does not recompute
    r2 = StageRunner(io, run_id="t2", resume=True)
    out2 = r2.run("stage_a", fn)
    assert out2.count() == 100 and calls["n"] == 1
    # resume=False forces recompute
    r3 = StageRunner(io, run_id="t3", resume=False)
    r3.run("stage_a", fn)
    assert calls["n"] == 2


def test_lineage_metrics_written(spark, io):
    r = StageRunner(io, run_id="t1", resume=False)
    r.run("stage_m", lambda: spark.range(1000).select(F.col("id").alias("k")))
    m = io.read("kg._checkpoints.stage_m")
    rows = m.collect()
    assert {c for c in m.columns} >= {"stage", "run_id", "partition_id", "row_count",
                                      "key_fingerprint", "latency_s"}
    assert sum(x["row_count"] for x in rows) == 1000


# _dag's stages: a -> (b, c) -> d
DOWNSTREAM = {"a": set("abcd"), "b": {"b", "d"}, "c": {"c", "d"}, "d": {"d"}}


def _dag(spark, fail: str | None = None):
    """a -> (b, c) -> d; stage `fail` dies inside its write job, after some of
    its tasks may already have written their files."""
    def maybe_fail(df, name):
        if name != fail:
            return df
        return df.withColumn("k", F.when(F.col("k") == 150, F.raise_error(
            F.lit(f"{name} died"))).otherwise(F.col("k")))

    return [
        ("a", (), lambda: maybe_fail(spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("x")), "a")),
        ("b", ("a",), lambda a: maybe_fail(a.select("k", (F.col("x") * 2).alias("y")), "b")),
        ("c", ("a",), lambda a: maybe_fail(a.where(F.col("k") % 2 == 0), "c")),
        ("d", ("b", "c"), lambda b, c: maybe_fail(b.join(c, "k"), "d")),
    ]


def _tables(io):
    return {n: sorted(map(tuple, io.read(f"kg.{n}").collect())) for n in "abcd"}


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    io = TableIO(spark, warehouse=str(tmp_path_factory.mktemp("clean")))
    StageRunner(io, run_id="clean").run_stages(_dag(spark))
    return _tables(io)


class CrashBeforeCommit(TableIO):
    """Dies right after `stage`'s data write, before its commit record."""

    def __init__(self, spark, warehouse, stage):
        super().__init__(spark, warehouse)
        self.stage = stage

    def write(self, df, name, mode="overwrite", partition_by=None):
        if name == f"kg._checkpoints.{self.stage}":
            raise RuntimeError("killed")
        super().write(df, name, mode, partition_by)


@pytest.mark.parametrize("stage", "abcd")
def test_crash_between_data_write_and_commit(spark, io, clean, stage):
    crashing = CrashBeforeCommit(spark, io.warehouse, stage)
    with pytest.raises(StageError, match=repr(stage)) as err:
        StageRunner(crashing, run_id="t1").run_stages(_dag(spark))
    assert err.value.stage == stage
    # the data landed, but the stage is not committed
    assert io.committed(f"kg.{stage}") and not StageRunner(io, "x").committed(stage)
    r = StageRunner(io, run_id="t2")
    r.run_stages(_dag(spark))
    assert set(r.timings) == DOWNSTREAM[stage]
    assert _tables(io) == clean


def test_rerun_dying_mid_write_leaves_no_commit_record(spark, io, clean):
    StageRunner(io, run_id="t1").run_stages(_dag(spark))
    # a resume=False rerun over the committed warehouse dies writing b
    with pytest.raises(StageError, match="'b'"):
        StageRunner(io, run_id="t2", resume=False).run_stages(_dag(spark, fail="b"))
    assert not StageRunner(io, "x").committed("b")
    r = StageRunner(io, run_id="t3")
    r.run_stages(_dag(spark))
    assert set(r.timings) == {"b", "d"}
    assert _tables(io) == clean


def test_failed_stage_is_named_and_committed_stages_resume(spark, io, clean):
    with pytest.raises(StageError, match="'c'") as err:
        StageRunner(io, run_id="t1").run_stages(_dag(spark, fail="c"))
    assert "c died" in str(err.value.__cause__)
    # b ran beside c and finished; d never started
    r = StageRunner(io, run_id="t2")
    r.run_stages(_dag(spark))
    assert set(r.timings) == {"c", "d"}
    assert _tables(io) == clean


def test_stage_inputs_must_be_listed_first(io):
    with pytest.raises(ValueError, match="'a'"):
        StageRunner(io, run_id="t1").run_stages([("b", ("a",), lambda a: a)])


def test_transient_stage_is_no_table_and_runs_only_when_read(spark, io, clean):
    calls = []
    stages = _dag(spark)
    build_b = stages[1][2]
    stages[1] = ("b", ("a",), lambda a: calls.append("b") or build_b(a))
    r = StageRunner(io, run_id="t1")
    r.run_stages(stages, transient={"b"})
    assert set(r.timings) == {"a", "c", "d"} and calls == ["b"]
    assert not io.committed("kg.b") and not r.committed("b")
    assert sorted(map(tuple, io.read("kg.d").collect())) == clean["d"]
    # committed readers: b never runs
    r = StageRunner(io, run_id="t2")
    r.run_stages(stages, transient={"b"})
    assert r.timings == {} and calls == ["b"]
    # c recomputes, so d does, and d needs b
    io.drop("kg._checkpoints.c")
    r = StageRunner(io, run_id="t3")
    r.run_stages(stages, transient={"b"})
    assert set(r.timings) == {"c", "d"} and calls == ["b", "b"]
    # a recomputes: through b, d does too
    io.drop("kg._checkpoints.a")
    r = StageRunner(io, run_id="t4")
    r.run_stages(stages, transient={"b"})
    assert set(r.timings) == {"a", "c", "d"} and calls == ["b"] * 3
    assert sorted(map(tuple, io.read("kg.d").collect())) == clean["d"]


def test_run_dag_rejects_a_cycle(spark):
    with pytest.raises(ValueError, match="wait on each other"):
        run_dag(spark, [("a", ("b",), lambda b: b), ("b", ("a",), lambda a: a)],
                lambda name, build: build())
