"""TableIO — storage shim: Iceberg tables when a catalog is configured,
plain parquet directories otherwise (this sandbox has no Iceberg jar).

The north rule speaks Iceberg; the engine code only ever says
``TableIO.write(df, "kg.nodes")`` / ``TableIO.read(spark, "kg.nodes")`` so the
same pipeline runs against either backend. KGX TSV export is kept for parity
with the reference's on-disk format (eco_kg writes nodes.tsv/edges.tsv via
``utils/transform_utils.py:66-80``; merge dumps tar.gz TSV per merge.yaml:66-71).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# merge_into's parquet swap: the merged table is written beside the target
# under _STAGED, the old target moves to _ASIDE, the staged table takes its
# place, and the old one is dropped
_STAGED, _ASIDE = "__staging", "__aside"


def _finish_swap(path: str) -> None:
    """Complete a merge_into swap a crash cut short. With the old table
    aside and the target gone, the staged table (fully written before the
    swap began) is renamed in, or, without one, the old table is moved
    back; an old table left aside beside a target is dropped."""
    aside = path + _ASIDE
    if not os.path.isdir(aside):
        return
    if not os.path.isdir(path):
        staged = path + _STAGED
        ready = os.path.isfile(os.path.join(staged, "_SUCCESS"))
        os.rename(staged if ready else aside, path)
    if os.path.isdir(aside):
        shutil.rmtree(aside)


def _iceberg_available(spark: SparkSession) -> bool:
    # an Iceberg catalog is configured iff some spark.sql.catalog.<name> is set
    confs = spark.sparkContext.getConf().getAll()
    return any(k.startswith("spark.sql.catalog.") for k, _ in confs)


class TableIO:
    """Reads/writes logical tables ``db.table`` to Iceberg or a parquet root."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.iceberg = _iceberg_available(spark)
        self.warehouse = warehouse or os.environ.get(
            "ECOKG_WAREHOUSE", "/tmp/ecokg_warehouse"
        )
        # parquet table -> schema of the DataFrame this TableIO last wrote
        # there whole; dropped by any other write, merge or drop of it
        self._written: dict[str, StructType] = {}

    def _path(self, name: str) -> str:
        return os.path.join(self.warehouse, *name.split("."))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        if self.iceberg:
            w = df.writeTo(name)
            if mode == "append":
                w.append()
            else:
                w.createOrReplace()
            return
        self._written.pop(name, None)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(name))
        if mode == "overwrite" and not partition_by:
            self._written[name] = df.schema

    def read(self, name: str) -> DataFrame:
        """`name` as a DataFrame. On parquet, a table this TableIO wrote
        whole (``write`` in overwrite mode, unpartitioned) reads back with
        the schema of the DataFrame written, which skips schema inference
        and its Spark job; any other table is inferred."""
        if self.iceberg:
            return self.spark.table(name)
        schema = self._written.get(name)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def committed(self, name: str) -> bool:
        """True once a write of `name` has fully committed: the table
        exists in the Iceberg catalog (createOrReplace is atomic), or the
        parquet directory carries the output committer's `_SUCCESS` file,
        which lands only after every task's files are in place. On parquet
        it first finishes a merge_into swap that a crash cut short."""
        if self.iceberg:
            return self.spark.catalog.tableExists(name)
        path = self._path(name)
        _finish_swap(path)
        return os.path.isfile(os.path.join(path, "_SUCCESS"))

    def drop(self, name: str) -> None:
        """Remove `name` if present; afterwards `committed(name)` is False."""
        if self.iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            return
        self._written.pop(name, None)
        path = self._path(name)
        if os.path.isdir(path):
            shutil.rmtree(path)

    def merge_into(self, source: DataFrame, name: str, keys: list[str],
                   when_matched: str = "update") -> None:
        """Key-upsert `source` into logical table `name` (north-rule Iceberg
        language: the merged-graph tables are MERGE targets).

        With an Iceberg catalog this is a real in-place ``MERGE INTO``
        (``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``);
        on the parquet fallback it is an anti-join emulation. This is the
        one upsert path: the streaming sink's foreachBatch bodies
        (streaming/merge_sink.py) call it too.

        - ``when_matched="update"``: kept = target ANTI source(keys);
          rewrite kept UNION source to a staged directory, then swap it in
          by renames (old table aside, staged in, old dropped). A crash
          mid-swap leaves the old or the merged table whole, and the next
          ``committed`` (which merge_into calls) completes the swap.
        - ``when_matched="ignore"``: insert-only — append source ANTI
          target; no rewrite, so replays are idempotent (first write wins).

        Source rows are deduplicated on `keys` first (SQL MERGE errors on
        multi-matched sources); which duplicate survives is arbitrary, so
        pre-aggregate upstream when the surviving row matters. Keys match
        null-safely on both backends (``<=>`` / ``eqNullSafe``): a NULL key
        equals a NULL key, as in dropDuplicates.

        The target counts as present only once a write of it committed
        (``committed``); a directory without ``_SUCCESS``, such as an empty
        mkdtemp handed to a streaming sink, is written from scratch."""
        if when_matched not in ("update", "ignore"):
            raise ValueError(f"when_matched={when_matched!r}")
        source = source.dropDuplicates(keys)
        self._written.pop(name, None)
        if not self.committed(name):
            self.write(source, name, mode="overwrite")
            return
        if self.iceberg:
            view = "_merge_src_" + name.replace(".", "_")
            source.createOrReplaceTempView(view)
            on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            matched = ("WHEN MATCHED THEN UPDATE SET * "
                       if when_matched == "update" else "")
            self.spark.sql(
                f"MERGE INTO {name} t USING {view} s ON {on} "
                f"{matched}WHEN NOT MATCHED THEN INSERT *")
            self.spark.catalog.dropTempView(view)
            return
        path = self._path(name)
        target = self.spark.read.parquet(path)

        def absent_from(df: DataFrame, other: DataFrame) -> DataFrame:
            o = other.select(*[F.col(k).alias(f"_k{i}")
                               for i, k in enumerate(keys)])
            on = [df[k].eqNullSafe(o[f"_k{i}"]) for i, k in enumerate(keys)]
            return df.join(o, on, "left_anti")

        if when_matched == "ignore":
            absent_from(source, target).write.mode("append").parquet(path)
            return
        kept = absent_from(target, source)
        merged = kept.unionByName(source.select(*target.columns))
        merged.write.mode("overwrite").parquet(path + _STAGED)  # BEFORE the swap
        # swap: old table aside, staged table in, old table dropped; a
        # crash between any two steps leaves what _finish_swap completes
        os.rename(path, path + _ASIDE)
        os.rename(path + _STAGED, path)
        shutil.rmtree(path + _ASIDE)

    def export_kgx_tsv(self, df: DataFrame, out_dir: str, compress: bool = True) -> None:
        """KGX-parity TSV export (reference: merge.yaml:66-71 tar.gz TSV dump;
        we keep plain .tsv.gz — the tar wrapper carries no information)."""
        w = df.write.mode("overwrite").option("sep", "\t").option("header", "true")
        if compress:
            w = w.option("compression", "gzip")
        w.csv(out_dir)

    def export_kgx_jsonl(self, df: DataFrame, out_dir: str,
                         compress: bool = True) -> None:
        """KGX jsonlines export — the other interchange format the KGX
        toolchain the reference builds on accepts (kgx transform
        --output-format jsonl). One JSON object per row, written by the
        JVM JSON datasource (no Python in the path); NULL-valued fields
        are omitted per jsonlines convention, which `kgx validate`
        expects. Multi-valued KGX slots (category, synonym) should be
        array columns before export — json keeps them as arrays where csv
        would flatten to pipe-joins."""
        w = df.write.mode("overwrite")
        if compress:
            w = w.option("compression", "gzip")
        w.json(out_dir)


def parse_timestamp_multi(col, formats: list[str] | None = None):
    """Multi-format timestamp ingestion: try each format in order with
    try_to_timestamp (NULL on mismatch, never ANSI errors), first match
    wins; returns (ts, fmt_idx) as a struct column — fmt_idx records
    WHICH format matched (-1 = none), the lineage a messy-feed ingest
    keeps for QC. Formats are Spark datetime patterns; the default list
    covers ISO, ISO-with-T, date-only, and US slash forms.

    Pure Catalyst coalesce chain — one projection, no UDF; at corpus
    scale this rides the scan like any other conversion.
    """
    fmts = formats or [
        "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd", "MM/dd/yyyy HH:mm", "MM/dd/yyyy",
    ]
    c = F.col(col) if isinstance(col, str) else col
    parsed = [F.try_to_timestamp(c, F.lit(f)) for f in fmts]
    ts = F.coalesce(*parsed)
    idx = F.lit(-1)
    for i in range(len(fmts) - 1, -1, -1):
        idx = F.when(parsed[i].isNotNull(), F.lit(i)).otherwise(idx)
    return F.struct(ts.alias("ts"), idx.cast("int").alias("fmt_idx"))


def read_jsonl_tolerant(spark: SparkSession, path: str, schema: str):
    """Corrupt-tolerant JSONL ingestion: read with an explicit schema in
    PERMISSIVE mode plus a `_corrupt` column capturing every line Spark
    could not parse against the schema — the web-feed reality where a
    fraction of records is truncated or malformed and FAILFAST would
    kill a 100-TB job at the first bad byte. An explicit schema is also
    the scale rule: schema inference is a full extra pass over the
    data.

    Returns the parsed DataFrame with `_corrupt` (NULL for good rows);
    filter `_corrupt IS NULL` for the clean set, aggregate the rest for
    the ingest QC report. NOTE (Spark semantics): a corrupt row binds
    ONLY `_corrupt` — its schema columns are NULL — and querying only
    the corrupt column requires the full row set, which this wrapper
    guarantees by never pruning the parsed columns away before a cache
    boundary.
    """
    full = schema + ", _corrupt string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
