"""In-memory span tracer for the benchmark's calls into the engine layers.

A span is (name, layer, start, end, parent, run id). Each span runs its
Spark jobs under its own job group, so when it closes the tracer reads
what those jobs cost from Spark's status stores (they are kept with the UI
off): executor run and CPU time, GC time, shuffle and spill bytes and task
counts per stage, and the Python-worker SQL metrics per query execution.
Nothing is written until ``Tracer.dump`` at the end of a run.

``TracingTableIO`` is a ``TableIO`` that records a span around every read,
write and merge, so a ``StageRunner`` driven through it shows checkpoint
write / read-back / lineage time without any change to the engine.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from ecokg_spark.io import TableIO

# layers the benchmark times; each maps to the module whose public
# functions it calls ("pipeline": build_kg's own edge materialize joins)
LAYERS = ["fused", "linking", "components", "pipeline", "merge", "stats",
          "checkpoint", "io", "query"]

_PY_METRICS = {
    "time to run Python workers": "py_worker_run_s",
    "time to start Python workers": "py_worker_start_s",
    "time to initialize Python workers": "py_worker_init_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
         "TiB": 1024.0 ** 4}
_VALUE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ('total (min, med, max ...)\\n7.1 s
    (...)' or a bare '880.3 KiB') in seconds or bytes."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "run", "start", "end", "spark",
                 "first_exec")

    def __init__(self, sid, name, layer, parent, run, first_exec):
        self.sid, self.name, self.layer = sid, name, layer
        self.parent, self.run = parent, run
        self.first_exec = first_exec  # SQL executions before this id predate the span
        self.start = time.perf_counter()
        self.end = None
        self.spark: dict[str, float] = {}

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "layer": self.layer,
                "parent": self.parent, "run": self.run, "start": self.start,
                "end": self.end, "spark": self.spark}


class Tracer:
    """Collects spans and counters for one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[Span] = []
        jvm = self.sc._gateway.jvm
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].sid if self._stack else None
        execs = self._sql.executionsList()
        first = execs.apply(execs.size() - 1).executionId() + 1 if execs.size() else 0
        s = Span(len(self.spans), name, layer, parent, self.run_id, first)
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run_id}:{s.sid}"
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.spark = self._spark_metrics(group, s.first_exec)
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"{self.run_id}:{outer.sid}", outer.name)
            else:
                self.sc.setJobGroup(f"{self.run_id}:-", "outside spans")

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def _spark_metrics(self, group: str, first_exec: int) -> dict[str, float]:
        """Executor-side cost of the jobs run under `group`."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": float(len(job_ids)), "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0,
               "spill_bytes": 0.0, "tasks": 0.0}
        if not job_ids:
            return out
        store = jsc.statusStore()
        stage_ids = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, self._empty, False, self._quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output came from an earlier job
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["tasks"] += st.numCompleteTasks()
        execs = self._sql.executionsList()
        for k in range(execs.size() - 1, -1, -1):
            e = execs.apply(k)
            if e.executionId() < first_exec:
                break
            jobs = e.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = self._sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for i in range(metrics.size()):
                pm = metrics.apply(i)
                key = _PY_METRICS.get(pm.name())
                if key is None:
                    continue
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    out[key] = out.get(key, 0.0) + parse_sql_metric(v.get())
        return out

    # ------------------------------------------------------------ reports

    def self_time(self, s: Span) -> float:
        children = sum(c.end - c.start for c in self.spans if c.parent == s.sid)
        return (s.end - s.start) - children

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: inclusive wall time of its outermost spans, self time
        and summed Spark metrics of every span of the layer."""
        out = {name: {"wall_s": 0.0, "self_s": 0.0} for name in LAYERS}
        by_id = {s.sid: s for s in self.spans}
        for s in self.spans:
            if s.layer not in out:
                continue
            d = out[s.layer]
            parent = by_id.get(s.parent)
            if parent is None or parent.layer != s.layer:
                d["wall_s"] += s.end - s.start
            d["self_s"] += self.self_time(s)
            for k, v in s.spark.items():
                d[k] = d.get(k, 0.0) + v
        return out

    def spark_totals(self) -> dict[str, float]:
        tot = {"gc_s": 0.0, "spill_bytes": 0.0, "tasks": 0.0}
        for s in self.spans:
            for k in tot:
                tot[k] += s.spark.get(k, 0.0)
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": [s.as_dict() for s in self.spans],
                       "counters": self.counters}, f)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


class TracingTableIO(TableIO):
    """TableIO whose reads, writes and merges are spans of `tracer`.

    Writes to the checkpoint lineage table and done markers are named
    ``checkpoint.lineage``; other writes are ``checkpoint.write``; reads
    are ``checkpoint.readback``. merge_into is the ``io`` layer."""

    def __init__(self, spark, warehouse: str, tracer: Tracer):
        super().__init__(spark, warehouse)
        self.tracer = tracer
        self.bytes_written = 0

    def write(self, df, name, mode="overwrite", partition_by=None):
        kind = "lineage" if name.startswith(("kg._checkpoints", "kg._done")) else "write"
        with self.tracer.span(f"checkpoint.{kind}:{name}", "checkpoint"):
            super().write(df, name, mode, partition_by)
        self.bytes_written += dir_bytes(self._path(name))

    def read(self, name):
        with self.tracer.span(f"checkpoint.readback:{name}", "checkpoint"):
            return super().read(name)

    def merge_into(self, source, name, keys, when_matched="update"):
        with self.tracer.span(f"io.merge_into:{name}", "io"):
            super().merge_into(source, name, keys, when_matched)
