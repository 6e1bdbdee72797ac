"""Resumable checkpointing with per-partition lineage + metrics.

North-rule requirement: every stage writes per-partition lineage (row
count, key fingerprint = the sum of xxhash64 over the first column — a
partitioning-independent content check, not a key range — and wall-clock
latency) to a checkpoint table, so a killed run resumes mid-pipeline: a
completed stage's output is read back instead of recomputed.

The lineage table ``kg._checkpoints.<stage>`` is also the stage's commit
record. A stage deletes its old record, writes ``kg.<stage>``, reads it
back and writes the record last; it counts as done only once the record
has fully committed (``TableIO.committed``). A run killed anywhere in
between — including a ``resume=False`` rerun overwriting an earlier run's
output — leaves the stage uncommitted, and the next resume recomputes it.

``run_dag`` runs a declared stage list as a DAG under a caller-chosen
materialization policy: each stage starts on its own driver thread once its
inputs have finished. ``StageRunner.run_stages`` is the durable policy: it
runs the stages that are not committed (or sit downstream of one that is
not), materializes each as a table, and reads a committed input back only
when a stage that has to run needs it.

Plain application logic over TableIO — no Spark built-in claims to do this
(SURVEY.md §4 custom-physical item 3).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Collection, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecokg_spark.io import TableIO

CHECKPOINT_TABLE = "kg._checkpoints"

# (name, input stage names, build): build takes the inputs' tables in order
Stage = tuple[str, tuple[str, ...], Callable[..., DataFrame]]


def partition_metrics(df: DataFrame, stage: str, run_id: str) -> DataFrame:
    """Per-partition lineage: (stage, run_id, partition_id, row_count,
    key_fingerprint). One narrow pass + tiny agg."""
    first_col = df.columns[0]
    return (
        df.select(F.spark_partition_id().alias("partition_id"), F.col(first_col))
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("row_count"),
            F.sum(F.xxhash64(first_col).cast("decimal(38,0)"))
            .cast("string").alias("key_fingerprint"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "row_count",
            "key_fingerprint",
        )
    )


class StageError(RuntimeError):
    """A stage of ``StageRunner.run_stages`` failed; ``stage`` names it and
    the stage's own exception is the ``__cause__``."""

    def __init__(self, stage: str):
        super().__init__(f"stage {stage!r} failed")
        self.stage = stage


class StageRunner:
    """Runs named stages with materialize-once + resume semantics."""

    def __init__(self, io: TableIO, run_id: str, resume: bool = True):
        self.io = io
        self.run_id = run_id
        self.resume = resume
        self.timings: dict[str, float] = {}

    def committed(self, stage: str) -> bool:
        return self.io.committed(f"{CHECKPOINT_TABLE}.{stage}")

    def run(self, stage: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Materialize `fn()` to table kg.<stage>; on resume, read the
        committed output back instead of recomputing."""
        if self.resume and self.committed(stage):
            return self.io.read(f"kg.{stage}")
        return self._materialize(stage, fn)

    def _materialize(self, stage: str, fn: Callable[[], DataFrame]) -> DataFrame:
        out_table = f"kg.{stage}"
        t0 = time.time()
        self.io.drop(f"{CHECKPOINT_TABLE}.{stage}")
        self.io.write(fn(), out_table)
        result = self.io.read(out_table)
        metrics = partition_metrics(result, stage, self.run_id).withColumn(
            "latency_s", F.lit(round(time.time() - t0, 3))
        )
        self.io.write(metrics, f"{CHECKPOINT_TABLE}.{stage}")  # the commit
        self.timings[stage] = time.time() - t0
        return result

    def run_stages(self, stages: Sequence[Stage], transient: Collection[str] = ()) -> None:
        """Run `stages`, listed inputs-first, as a DAG of durable tables.

        A stage runs when resume is off, when it is not committed, or when
        one of its inputs runs; the commit records of every stage that will
        run are deleted before the first starts, so no committed stage is
        ever left downstream of one that is not. A committed input is read
        back only if a running stage needs it, so a fully committed resume
        starts no Spark job. A `transient` stage has no table and no commit
        record: it runs, untimed, only when a running stage reads it, and
        when one of its inputs runs, so do its readers. Failures raise
        StageError as in run_dag."""
        transient = set(transient)
        dirty: set[str] = set()
        declared: set[str] = set()
        for name, inputs, _ in stages:
            if undeclared := [i for i in inputs if i not in declared]:
                raise ValueError(f"stage {name!r}: inputs {undeclared} not listed before it")
            declared.add(name)
            if any(i in dirty for i in inputs) or (
                    name not in transient and not (self.resume and self.committed(name))):
                dirty.add(name)
        todo = dirty - transient
        for name, inputs, _ in reversed(stages):
            if name in todo:
                todo.update(i for i in inputs if i in transient)
        if not todo:
            return
        for name in todo - transient:
            self.io.drop(f"{CHECKPOINT_TABLE}.{name}")
        run_dag(
            self.io.spark,
            [st for st in stages if st[0] in todo],
            lambda name, build: build() if name in transient else self._materialize(name, build),
            read=lambda name: self.io.read(f"kg.{name}"),
        )


def run_dag(
    spark: SparkSession,
    stages: Sequence[Stage],
    materialize: Callable[[str, Callable[[], DataFrame]], DataFrame],
    read: Callable[[str], DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Run `stages`, listed inputs-first, as a DAG; returns each stage's
    output by name.

    Each stage starts on its own driver thread as soon as the inputs it
    lists among `stages` have finished, and its output is
    `materialize(name, build)`, where `build()` applies the stage to its
    inputs. An input that is not in `stages` comes from `read(name)`,
    called at most once per name and only when a stage first needs it. If
    a stage fails, the stages in flight finish, nothing new starts, and
    StageError names the failed stage."""
    names = {name for name, _, _ in stages}
    done: dict[str, DataFrame] = {}  # stages run here; set by the loop below
    read_back: dict[str, DataFrame] = {}
    read_lock = threading.Lock()

    def table(name: str) -> DataFrame:
        if name in names:
            return done[name]
        with read_lock:
            if name not in read_back:
                read_back[name] = read(name)
            return read_back[name]

    # stage threads run with the caller's job group, properties and tags
    @inheritable_thread_target(spark)
    def run(name: str, inputs: tuple[str, ...], build) -> DataFrame:
        return materialize(name, lambda: build(*[table(i) for i in inputs]))

    pending = list(stages)
    running: dict[Future, str] = {}
    failed: tuple[str, Exception] | None = None
    with ThreadPoolExecutor(max_workers=max(len(stages), 1),
                            thread_name_prefix="stage") as pool:
        while pending or running:
            for st in [st for st in pending
                       if all(i not in names or i in done for i in st[1])]:
                pending.remove(st)
                running[pool.submit(run, *st)] = st[0]
            if not running:
                raise ValueError(f"stages {[st[0] for st in pending]} wait on each other")
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                try:
                    done[name] = fut.result()
                except Exception as e:  # noqa: BLE001 - re-raised below
                    failed = failed or (name, e)
            if failed:
                pending.clear()
    if failed:
        raise StageError(failed[0]) from failed[1]
    return done
