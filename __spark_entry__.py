"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``ecokg_spark`` (see the ecokg_spark/contract/ package).
Because pandas UDFs pickle by module reference, the package must be
importable on Spark's Python WORKERS too, whatever cwd the driver runs
from: ``_ensure_importable`` ships a zip of the package to the context via
``addPyFile`` (the --py-files mechanism) before the first query runs.
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from ecokg_spark.contract import ORACLES, QUERIES  # noqa: E402
from ecokg_spark.contract.kgflow import q_kg_materialize  # noqa: E402

_PYFILES_ADDED: set[str] = set()


def _ensure_importable(spark: SparkSession) -> None:
    """addPyFile a fresh zip of ecokg_spark so executors/Python workers can
    unpickle UDFs regardless of the driver's cwd/PYTHONPATH.

    Keyed on applicationId (stable and unique per context — id() of a
    garbage-collected SparkContext can be reused by a new one, silently
    skipping the addPyFile; ADVICE r1). Only the known same-name re-add
    error is swallowed; real addPyFile failures propagate instead of
    resurfacing later as worker-side ModuleNotFoundError."""
    key = spark.sparkContext.applicationId
    if key in _PYFILES_ADDED:
        return
    zpath = os.path.join(tempfile.gettempdir(), "ecokg_spark_pyfiles.zip")
    pkg = os.path.join(_REPO, "ecokg_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, _REPO))
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception as exc:  # noqa: BLE001
        if "same name" not in str(exc) and "already" not in str(exc).lower():
            raise
    _PYFILES_ADDED.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG materialize over sf0.001 + edge stats by predicate."""
    _ensure_importable(spark)
    return q_kg_materialize(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_importable(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
