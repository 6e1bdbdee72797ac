"""KG-construction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run sets up a Spark session
(session start plus the workload's warm-up operations: ``setup_s``), then
runs the workload's operation in a closed loop — one client, one operation
at a time — for ``--seconds`` seconds and at least the workload's
``min_ops`` operations, checking every output outside its timed interval. With ``--trace 1`` it alternates an
untraced operation with the same operation traced layer by layer
(``spans.py``) and reports per-layer metrics and the tracing overhead
instead.

Standard output ends with two JSON lines: a report (inputs and their
fingerprints, commit, cpus, session settings, the workload's own metrics
such as pages/s or query p90) and, last, the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# set-ups per run; setup_s is their median. One: a cold set-up costs 20-30 s
# here, and more would not fit the benchmark's run budget.
SETUPS = 1

# per workload: input size and request-stream knobs
SIZES = {
    "full": {
        "crawl": {"n": 200000},
        "crawl_durable": {"n": 10000},
        "vocab": {"n": 3000, "entities": 2500},
        "serve": {"n": 8000, "requests": 600, "batch_rows": 500},
    },
    "tiny": {
        "crawl": {"n": 300},
        "crawl_durable": {"n": 300},
        "vocab": {"n": 200, "entities": 300},
        "serve": {"n": 400, "requests": 60, "batch_rows": 20},
    },
}

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms",
              "peak_rss_mb": "MiB"}


def settings() -> dict:
    """Session settings sized for this host: at most 4 task slots, a 2 GiB
    driver heap (local mode: the driver heap is the executor heap), and
    every scratch directory inside the checkout."""
    cpus = min(4, os.cpu_count() or 1)
    return {
        "master": f"local[{cpus}]",
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(STATE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(STATE, "spark-warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then does not
        # depend on how far G1 chose to grow the heap in this run; no
        # hsperfdata file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def configure_env(conf: dict) -> None:
    """Environment the session and its Python workers inherit; must run
    before pyspark starts the JVM."""
    for d in ("spark-local", "tmp", "cache", "work"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["ECOKG_DRIVER_MEM"] = conf["spark.driver.memory"]
    os.environ["ECOKG_WAREHOUSE"] = os.path.join(STATE, "warehouse")
    os.environ["ECOKG_SCRATCH_DIR"] = os.path.join(STATE, "scratch")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(conf: dict):
    from ecokg_spark.session import get_spark

    extra = {k: v for k, v in conf.items() if k.startswith("spark.") and k not in (
        "spark.driver.memory", "spark.sql.shuffle.partitions")}
    spark = get_spark(app_name="perfbench", master=conf["master"],
                      shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context and the JVM behind it, and wait for the JVM
    (and with it Spark's Python workers) to exit: the JVM ends when its
    standard input closes, which otherwise only happens after this process
    has gone."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def stamp() -> dict:
    """Commit (when the checkout is a git work tree) and a hash of the
    engine sources, which identifies the program either way."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ecokg_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha": h.hexdigest()[:16]}


class RssSampler:
    """Peak memory of this process tree — the driver Python, the JVM it
    launched and Spark's Python workers — sampled every 100 ms while the
    operations run. Each process counts its proportional set size (shared
    pages split among the processes sharing them), so forked Python
    workers are not counted once per fork."""

    _PSS = re.compile(r"^Pss:\s+(\d+) kB", re.M)

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @classmethod
    def tree_pss(cls, pid: int) -> int:
        total, stack = 0, [(pid, b"")]
        while stack:
            p, parent_cmd = stack.pop()
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    cmd = f.read()
                if cmd == parent_cmd and b"java" in cmd.split(b"\0")[0]:
                    # the JVM spawns helpers with vfork: until the exec the
                    # child shares the JVM's memory, which must count once
                    continue
                with open(f"/proc/{p}/smaps_rollup") as f:
                    m = cls._PSS.search(f.read())
                total += int(m.group(1)) * 1024 if m else 0
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        stack += [(int(c), cmd) for c in f.read().split()]
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree_pss(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Runner:
    def __init__(self, args):
        self.args = args
        self.conf = settings()
        self.size = SIZES[args.size][args.workload]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, errs: list[str], what: str) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            for e in errs:
                msg = f"{what}: {e}"
                self.errors.append(msg)
                print("CHECK FAILED " + msg, file=sys.stderr)

    def attempt(self, w, fn, i: int, fresh: bool = True):
        """Run one operation (timed) and check it (untimed); returns
        (seconds, result) or (None, None) when it raised. `fresh=False`
        repeats the previous request instead of preparing the next one."""
        if fresh:
            w.before()
        t0 = time.perf_counter()
        try:
            res = fn(i)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            self.record([traceback.format_exc(limit=3)], f"op {i}")
            w.after()
            return None, None
        dt = time.perf_counter() - t0
        try:
            errs = w.check(res)
        except Exception:  # noqa: BLE001
            errs = [traceback.format_exc(limit=3)]
        self.record(errs, f"op {i}")
        w.after()
        return dt, res

    def setup(self):
        from workloads import WORKLOADS

        cls = WORKLOADS[self.args.workload]
        work = os.path.join(STATE, "work", f"{self.args.workload}-{self.args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        self.work = work
        spark, w, times = None, None, []
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(self.conf)
            took = time.perf_counter() - t0
            if w is None:
                w = cls(spark, self.args.seed, self.size, os.path.join(STATE, "cache"), work)
                w.prepare()  # input generation: cached, not part of set-up
            else:
                w.rebind(spark)
            w.reset()
            w.start_warmup()
            for j in range(w.warmup_ops):
                dt, _ = self.attempt(w, w.op, -1 - j)
                if dt is None:
                    raise SystemExit("warm-up operation failed")
                took += dt
            times.append(took)
        self.spark, self.w, self.setup_times = spark, w, times

    def check_inputs(self) -> dict:
        import inputs

        for man in self.w.manifests:
            ok = inputs.check_manifest(man)
            self.record([] if ok else [f"input {man['kind']} seed {man['seed']} size "
                                       f"{man['size']}: files {man['files_sha_now']} != "
                                       f"recorded {man['files_sha']}"], "fingerprint")
        fp, ok = inputs.canary(self.spark, self.work, self.w.kind)
        self.record([] if ok else [f"generator output changed: canary {fp}"], "canary")
        return {"inputs": [{k: m.get(k) for k in ("kind", "seed", "size", "params", "meta",
                                                  "fingerprint", "files_sha", "cached", "stream_sha")}
                           for m in self.w.manifests],
                "canary": {"kind": self.w.kind, "fingerprint": fp, "matches": ok}}

    def measure(self) -> tuple[dict, dict]:
        w = self.w
        w.reset()
        lat: dict[str, list[float]] = {}
        units = 0.0
        busy = 0.0
        i = 0
        t_end = time.perf_counter() + self.args.seconds
        with RssSampler() as rss:
            while time.perf_counter() < t_end or i < w.min_ops:
                dt, res = self.attempt(w, w.op, i)
                i += 1
                if dt is None:
                    continue
                lat.setdefault(w.label(res), []).append(dt)
                units += w.units(res)
                busy += dt
        every = [x for xs in lat.values() for x in xs]
        metrics = {
            "setup_s": statistics.median(self.setup_times),
            "throughput_per_s": units / busy if busy else 0.0,
            "latency_p50_ms": statistics.median(every) * 1e3 if every else 0.0,
            "peak_rss_mb": rss.peak / 2 ** 20,
        }
        own = {"setup_s": (metrics["setup_s"], "s"), "peak_rss_mb": (metrics["peak_rss_mb"], "MiB"),
               "samples": (len(every), "count")}
        own.update(w.own_metrics(lat, units, busy))
        return metrics, own

    def measure_traced(self) -> tuple[dict, dict]:
        from spans import Tracer, LAYERS

        w = self.w
        w.reset()
        plain, traced, per_op = [], [], []
        i = 0
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or i < 2 * max(1, w.min_ops // 2):
            # the same operation untraced and traced; which goes first
            # alternates, so neither side always gets the warmer caches
            tr = Tracer(self.spark, f"{self.args.workload}-{self.args.seed}-{i}")
            sides = [("plain", w.op), ("traced", lambda j, tr=tr: w.traced_op(tr, j))]
            for k, (side, fn) in enumerate(sides if i % 4 == 0 else sides[::-1]):
                dt, _ = self.attempt(w, fn, i + k, fresh=k == 0)
                if dt is None:
                    continue
                if side == "plain":
                    plain.append(dt)
                else:
                    traced.append(dt)
                    per_op.append(layer_metrics(tr, LAYERS))
                    tr.dump(os.path.join(STATE, "traces", f"{tr.run_id}.json"))
            i += 2
        metrics = {}
        for name in PER_LAYER:
            vals = [m.get(name, 0.0) for m in per_op]
            layer = name.split(".")[0]
            active = [v for v, m in zip(vals, per_op) if m.get(f"{layer}.wall_s", 0.0) > 0]
            metrics[name] = statistics.median(active or vals) if vals else 0.0
        untraced = statistics.median(plain) if plain else 0.0
        over = statistics.median(traced) - untraced if traced else 0.0
        metrics["trace.overhead_s"] = over
        metrics["trace.overhead_ratio"] = over / untraced if untraced else 0.0
        return metrics, {"untraced_op_s": (untraced, "s"), "traced_op_s": (untraced + over, "s")}


def layer_metrics(tr, layers) -> dict[str, float]:
    """Flatten one traced operation into `<layer>.<metric>` values."""
    lt = tr.layer_totals()
    m: dict[str, float] = {}
    for layer in layers:
        m[f"{layer}.wall_s"] = lt[layer]["wall_s"]
        m[f"{layer}.self_s"] = lt[layer]["self_s"]
    for k in ("executor_run_s", "executor_cpu_s", "py_worker_run_s", "py_worker_start_s",
              "py_worker_init_s", "py_bytes_sent", "py_bytes_returned"):
        m[f"fused.{k}"] = lt["fused"].get(k, 0.0)
    for layer in ("linking", "merge", "query"):
        m[f"{layer}.shuffle_bytes"] = lt[layer].get("shuffle_bytes", 0.0)
    for kind in ("write", "readback", "lineage"):
        m[f"checkpoint.{kind}_s"] = sum(s.end - s.start for s in tr.spans
                                        if s.name.startswith(f"checkpoint.{kind}:"))
    m["io.merge_s"] = lt["io"]["wall_s"]
    for k, v in tr.spark_totals().items():
        m[f"spark.{k}"] = v
    m.update(tr.counters)
    return m


# every per-layer metric, with its unit (BENCHMARK.json lists the same)
PER_LAYER = {
    **{f"{layer}.{k}": "s" for layer in ("fused", "linking", "components", "pipeline", "merge",
                                         "stats", "checkpoint", "io", "query")
       for k in ("wall_s", "self_s")},
    "fused.executor_run_s": "s", "fused.executor_cpu_s": "s", "fused.py_worker_run_s": "s",
    "fused.py_worker_start_s": "s", "fused.py_worker_init_s": "s", "fused.py_bytes_sent": "B",
    "fused.py_bytes_returned": "B", "fused.rows_out": "count",
    "linking.surfaces_in": "count", "linking.exact_hits": "count",
    "linking.fuzzy_misses_in": "count", "linking.fuzzy_pairs": "count",
    "linking.fuzzy_hits": "count", "linking.fuzzy_yield": "ratio",
    "linking.quarantined": "count", "linking.res_rows": "count", "linking.shuffle_bytes": "B",
    "components.identity_edges": "count", "components.path_star": "bool",
    "merge.rows_in": "count", "merge.rows_out": "count", "merge.shuffle_bytes": "B",
    "checkpoint.write_s": "s", "checkpoint.readback_s": "s", "checkpoint.lineage_s": "s",
    "checkpoint.bytes_written": "B", "checkpoint.write_amp": "ratio",
    "checkpoint.stages_skipped": "count",
    "io.merge_s": "s", "io.bytes_rewritten_per_byte": "ratio",
    "query.compile_ms": "ms", "query.exec_ms": "ms", "query.jobs": "count",
    "query.shuffle_bytes": "B", "query.rows_out": "count",
    "spark.gc_s": "s", "spark.spill_bytes": "B", "spark.tasks": "count",
    "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ecokg_spark", "pipeline.py")):
        print(f"no ecokg_spark sources under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    r = Runner(args)
    configure_env(r.conf)
    phases = {}
    try:
        t = time.perf_counter()
        r.setup()
        phases["setup"] = time.perf_counter() - t
        t = time.perf_counter()
        if args.trace:
            metrics, own = r.measure_traced()
            units = PER_LAYER
        else:
            metrics, own = r.measure()
            units = END_TO_END
        phases["measure"] = time.perf_counter() - t
        t = time.perf_counter()
        report = r.check_inputs()
        phases["input_checks"] = time.perf_counter() - t
    finally:
        stop_jvm()
        if getattr(r, "work", None):
            shutil.rmtree(r.work, ignore_errors=True)
    own["failed_ratio"] = (r.failed / r.attempted if r.attempted else 0.0, "ratio")
    report.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **stamp(), "cpus": r.conf["cpus"], "settings": r.conf,
        "setup_runs_s": r.setup_times, "phases_s": phases,
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in own.items()},
        "errors": r.errors[:10],
    })
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
