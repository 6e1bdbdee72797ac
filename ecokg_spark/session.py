"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness on local[N] but chosen to survive a
1000-executor cluster: AQE on (runtime coalesce + skew-join splitting),
Arrow transfer for every pandas UDF, sane shuffle-partition and
max-partition-bytes settings, UTC session timezone so timestamp semantics
match the DuckDB oracle.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


_SRC_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _phys_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def get_spark(
    app_name: str = "ecokg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this is overridden at submit time (AQE coalesces down anyway).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime re-plan, partition coalesce, skew-join split
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing (north_rule: partitioning/shuffle handled explicitly)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- Arrow everywhere: pandas UDFs are the only Python hot path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- keep wide aggregates inside whole-stage codegen: the MinHash
        # signature agg is 64 min() functions (~128 fields), which silently
        # falls back to INTERPRETED eval at the default maxFields=100
        # (measured ~5x slower on the signature stage)
        .config("spark.sql.codegen.maxFields", "256")
        # --- determinism for oracle comparison
        .config("spark.sql.session.timeZone", "UTC")
        # keep the UI off in tests/bench (driver-side overhead, port clashes)
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: the driver heap IS the executor heap; size it
        # for the block-manager storage pool (localCheckpoint blocks at bench
        # scale) or stage outputs evict+recompute nondeterministically — but
        # within the host: the JVM grows its heap toward -Xmx before it
        # collects, and a heap past physical memory gets it OOM-killed
        .config("spark.driver.memory",
                os.environ.get("ECOKG_DRIVER_MEM", f"{min(32768, _phys_mb() // 2)}m"))
        # Python workers fork from a daemon that makes the per-task import
        # cache invalidation cheap (see ecokg_spark/pyworker_daemon.py); the
        # daemon imports it from this source tree
        .config("spark.python.daemon.module", "ecokg_spark.pyworker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _SRC_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """Driver-held rows as a DataFrame over a LocalRelation: the rows live in
    the plan, so collecting it starts no Spark job (createDataFrame of a
    Python list gives an RDD scan, which starts one). A broadcast join
    against it still starts jobs. For dimension-sized tables only."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
