"""Incremental merge sinks: foreachBatch bodies that fold stream
micro-batches into a running table.

Each micro-batch is deduplicated against the table built so far, with
exactly-once delivery from the sink checkpoint + idempotent insert-only
upserts. The first-wins upsert goes through the one upsert path,
TableIO.merge_into(..., when_matched="ignore"), whose parquet form is
anti-join-then-append:

  batch_n: new = batch.dropDuplicates(keys) ANTI-JOIN existing(keys)
           append(new)

A replayed micro-batch (failure between append and commit) re-runs the
anti-join against a table that already contains its rows, appending
nothing — idempotence without a transactional store. With an Iceberg
catalog merge_into runs the same upsert as a real MERGE INTO.

dedup_within_watermark is the bounded-state complement: it drops
duplicates inside the stream itself, before any sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecokg_spark.io import TableIO
from ecokg_spark.operators.merge import dedup_first_wins


def _table(spark, table_path: str) -> tuple[TableIO, str]:
    """(TableIO, name) addressing the sink's directory: its parent is the
    warehouse, its base name the table."""
    warehouse, name = os.path.split(table_path.rstrip(os.sep))
    if "." in name:  # TableIO would read the dot as a namespace separator
        raise ValueError(f"sink table directory {name!r} contains '.'")
    return TableIO(spark, warehouse), name


def upsert_first_wins_batch(batch: DataFrame, table_path: str,
                            key: str, order_col: str) -> None:
    """foreachBatch body: DETERMINISTIC first-wins upsert — keep the
    order_col-minimal row per key within the batch, then append only
    key-new rows. When micro-batches arrive in ascending order_col ranges
    (a file source fed id-sorted files), the drained table holds exactly
    the GLOBAL order_col-min row per key — the streaming equivalent of
    the batch exact-dedup aggregate (operators/dedup.py exact_dedup).
    A replayed batch anti-joins against a table that already has its
    keys, so it appends nothing."""
    io, name = _table(batch.sparkSession, table_path)
    io.merge_into(dedup_first_wins(batch, [key], order_col), name, [key],
                  when_matched="ignore")


def merge_hll_registers_batch(batch: DataFrame, table_path: str,
                              p: int = 12,
                              value_col: str = "v",
                              group_cols: list[str] | None = None) -> None:
    """foreachBatch body: fold a micro-batch into a RUNNING HLL register
    table (max per bucket) — the streaming face of the sketch's
    mergeability (operators/sketch.py): distinct-count state is a fixed
    2^p-row table regardless of stream length, where exact streaming
    COUNT(DISTINCT) state grows with the key universe.

    Append-only-compatible: the new register table is the max-combine of
    the batch's registers with the table so far, REWRITTEN atomically
    per batch (register tables are tiny — 2^p rows — so the rewrite is
    metadata-cheap; an Iceberg MERGE would do it in place). A replayed
    batch max-combines values already absorbed — idempotent, max is."""
    import shutil

    from ecokg_spark.operators.sketch import hll_registers

    gcols = list(group_cols or [])
    regs = hll_registers(batch, value_col, p=p, group_cols=gcols)
    io, name = _table(batch.sparkSession, table_path)
    if io.committed(name):
        regs = (regs.unionByName(io.read(name))
                .groupBy(*gcols, "bucket")
                .agg(F.max("register").alias("register")))
    tmp = table_path + ".tmp"
    regs.coalesce(1).write.mode("overwrite").parquet(tmp)
    if os.path.isdir(table_path):
        shutil.rmtree(table_path)
    os.rename(tmp, table_path)


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked streaming deduplication: emit the FIRST row per key,
    with the dedup state EVICTED once the event-time watermark passes
    key-arrival + `delay` — Spark's dropDuplicatesWithinWatermark.

    This is the scale-complement of the foreachBatch first-wins merge
    sink (upsert_first_wins_batch above): the sink form keeps the
    whole merged table as its dedup set (exact forever, unbounded probe),
    while this form bounds state to the watermark horizon — the right
    shape for infinite streams where duplicates arrive close together
    (retries, at-least-once upstream delivery). A duplicate arriving
    AFTER eviction passes through again; choose `delay` >= the upstream
    redelivery horizon.
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        keys)
