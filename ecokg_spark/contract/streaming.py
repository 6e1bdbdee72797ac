"""Structured Streaming rows (availableNow-drained): windows, sessionize, stream joins, watermark dedup, streaming HLL."""

from __future__ import annotations

from ecokg_spark.functions.text import doc_fingerprint, token_count
from pyspark.sql import functions as F
from ecokg_spark.contract._shared import dec_sum, t


_STREAM_SEQ = [0]  # unique memory-sink names across repeated driver calls


def q_events_window_streaming(spark, sf):
    """The events_window aggregation run THROUGH Structured Streaming
    (file-source readStream -> availableNow drain -> complete-mode memory
    sink) and checked against the identical batch oracle — streaming
    execution surfaces in CORRECTNESS, not just pytest (VERDICT r2 #9)."""
    import tempfile

    e = t(spark, sf, "events")
    src = tempfile.mkdtemp(prefix="ecokg_evw_src_")
    e.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(e.schema).parquet(src)
    agg = (
        stream.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                       "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             dec_sum("value").alias("sum_value"))
    )
    _STREAM_SEQ[0] += 1
    name = f"evw_stream_{_STREAM_SEQ[0]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def q_sessionize_streaming(spark, sf):
    """Stateful streaming sessionization (applyInPandasWithState,
    EventTimeTimeout) drained over the events table and rolled up to the
    batch sessionizer's exact output shape — same oracle as `sessionize`.
    A far-future sentinel file pushes the watermark past every session's
    close point; the availableNow drain's final no-data batch fires the
    remaining event-time timeouts."""
    import tempfile

    from ecokg_spark.streaming.sessions import streaming_sessions

    e = t(spark, sf, "events").select("user_id", "ts")
    src = tempfile.mkdtemp(prefix="ecokg_sess_src_")
    e.repartition(1).sortWithinPartitions("ts").write.mode("append").parquet(src)
    sentinel = -999
    tick = e.agg((F.max("ts") + F.expr("INTERVAL 3650 DAYS")).alias("ts"))
    tick.select(F.lit(sentinel).cast("long").alias("user_id"), "ts") \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = tempfile.mkdtemp(prefix="ecokg_sess_out_")
    ck = tempfile.mkdtemp(prefix="ecokg_sess_ck_")
    q = (streaming_sessions(stream, gap_s=1800)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    closed = spark.read.parquet(out).where(F.col("user_id") != sentinel)
    return closed.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def q_hll_stream(spark, sf):
    """Streaming HLL (streaming/merge_sink.py merge_hll_registers_batch):
    documents stream in three files, each micro-batch max-combines its
    registers into the running table; the drained estimate must equal
    the BATCH hll_distinct exactly (mergeability, proven here under
    Structured Streaming). Shares hll_distinct's oracle SQL."""
    import os as _os
    import tempfile

    from ecokg_spark.operators.sketch import hll_estimate
    from ecokg_spark.streaming.merge_sink import merge_hll_registers_batch

    d = t(spark, sf, "documents").select("doc_id", "source",
                                         F.col("text").alias("v"))
    src = tempfile.mkdtemp(prefix="ecokg_hs_src_")
    hi = d.agg(F.max("doc_id")).first()[0]
    cuts = [None, hi // 3, 2 * hi // 3, None]
    stamped: set[str] = set()
    for fi, (lo, up) in enumerate(zip(cuts[:-1], cuts[1:])):
        part = d
        if lo is not None:
            part = part.where(F.col("doc_id") > lo)
        if up is not None:
            part = part.where(F.col("doc_id") <= up)
        part.coalesce(1).write.mode("append").parquet(src)
        for name in _os.listdir(src):
            pth = _os.path.join(src, name)
            if name.endswith(".parquet") and pth not in stamped:
                st = _os.stat(pth)
                _os.utime(pth, (st.st_atime, 1_000_000_000 + fi * 100))
                stamped.add(pth)

    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = tempfile.mkdtemp(prefix="ecokg_hs_out_") + "/regs"
    ck = tempfile.mkdtemp(prefix="ecokg_hs_ck_")
    q = (stream.writeStream.foreachBatch(
            lambda b, _e: merge_hll_registers_batch(
                b, out, p=12, value_col="v", group_cols=["source"]))
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    import atexit
    import shutil
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    atexit.register(shutil.rmtree, _os.path.dirname(out),
                    ignore_errors=True)
    regs = spark.read.parquet(out)
    return hll_estimate(regs, p=12, group_cols=["source"])


def q_curate_stream(spark, sf):
    """The curation chain run THROUGH Structured Streaming (VERDICT r3
    #7): the narrow gates (lang, token/repetition quality) execute inside
    each micro-batch scan exactly as in the batch plan; the one stateful
    step — cross-batch exact dedup — is the incremental first-wins merge
    sink (streaming/merge_sink.py upsert_first_wins_batch) under
    foreachBatch. Source files are fed in ascending doc_id ranges (file
    source processes by modification time), so batch-local min-id +
    key-anti-join == GLOBAL min-id per fingerprint, and the drained table
    equals the batch curate_corpus output. The deterministic md5 sample
    is applied on the drained read (it must see the dedup survivor, not
    pre-sample rows, to match the batch chain's gate order). Shares
    curate_corpus's DuckDB oracle."""
    import tempfile

    from ecokg_spark.functions.text import (doc_fingerprint,
                                            repetition_ratio, token_count)
    from ecokg_spark.operators.sample import hash_sample
    from ecokg_spark.streaming.merge_sink import upsert_first_wins_batch

    d = t(spark, sf, "documents").select("doc_id", "source", "text", "lang")
    src = tempfile.mkdtemp(prefix="ecokg_cur_src_")
    hi = d.agg(F.max("doc_id")).first()[0]
    cuts = [None, hi // 3, 2 * hi // 3, None]
    import os as _os
    stamped: set[str] = set()
    for fi, (lo, up) in enumerate(zip(cuts[:-1], cuts[1:])):
        part = d
        if lo is not None:
            part = part.where(F.col("doc_id") > lo)
        if up is not None:
            part = part.where(F.col("doc_id") <= up)
        part.coalesce(1).write.mode("append").parquet(src)
        # FileStreamSource orders files by modification time and breaks
        # ties arbitrarily; three fast local writes can land in one mtime
        # tick, making batch order (and thus first-wins survivors)
        # nondeterministic vs the oracle's min(doc_id). Stamp strictly
        # increasing mtimes so ingestion order is the write order.
        for name in _os.listdir(src):
            pth = _os.path.join(src, name)
            if name.endswith(".parquet") and pth not in stamped:
                st = _os.stat(pth)
                _os.utime(pth, (st.st_atime, 1_000_000_000 + fi * 100))
                stamped.add(pth)

    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    gated = (
        stream.where(F.col("lang") == "en")
        .withColumn("n_tokens", token_count("text"))
        .withColumn("rep_ratio", repetition_ratio("text"))
        .where((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 100000)
               & (F.col("rep_ratio") <= 0.6))
        .withColumn("_fp", doc_fingerprint("text"))
        .drop("text", "lang")
    )
    out = tempfile.mkdtemp(prefix="ecokg_cur_out_")
    ck = tempfile.mkdtemp(prefix="ecokg_cur_ck_")
    q = (gated.writeStream.foreachBatch(
            lambda b, _e: upsert_first_wins_batch(b, out, "_fp", "doc_id"))
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # the stream has fully drained: the source copy and checkpoint are
    # dead weight — delete now; the output dir must outlive the returned
    # (lazy) DataFrame, so it is reclaimed at interpreter exit instead of
    # accumulating one full corpus copy per invocation
    import atexit
    import shutil
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return hash_sample(spark.read.parquet(out), 0.5, "doc_id").select(
        "doc_id", "source", "n_tokens", "rep_ratio")


def q_dedup_stream(spark, sf):
    """Watermarked streaming dedup (streaming/merge_sink.py
    dedup_within_watermark -> dropDuplicatesWithinWatermark): every event
    row is fed TWICE (same micro-batch — the retry/at-least-once shape),
    three ascending-ts files; the drained append-mode output must equal
    the distinct event set. State is bounded by the watermark horizon —
    the infinite-stream complement of the merge-sink dedup."""
    import os as _os
    import tempfile

    from ecokg_spark.streaming.merge_sink import dedup_within_watermark

    d = t(spark, sf, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value")  # parquet holds NTZ; watermarks need TIMESTAMP
    src = tempfile.mkdtemp(prefix="ecokg_ds_src_")
    hi = d.agg(F.max("event_id")).first()[0]
    cuts = [None, hi // 3, 2 * hi // 3, None]
    stamped: set[str] = set()
    for fi, (lo, up) in enumerate(zip(cuts[:-1], cuts[1:])):
        part = d
        if lo is not None:
            part = part.where(F.col("event_id") > lo)
        if up is not None:
            part = part.where(F.col("event_id") <= up)
        # the duplicate lands in the SAME file -> same micro-batch, always
        # inside the watermark horizon whatever the ts spread is
        part.unionAll(part).coalesce(1).write.mode("append").parquet(src)
        for name in _os.listdir(src):
            pth = _os.path.join(src, name)
            if name.endswith(".parquet") and pth not in stamped:
                st = _os.stat(pth)
                _os.utime(pth, (st.st_atime, 1_000_000_000 + fi * 100))
                stamped.add(pth)

    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    deduped = dedup_within_watermark(stream, ["event_id"], "ts",
                                     delay="1 hour")
    out = tempfile.mkdtemp(prefix="ecokg_ds_out_")
    ck = tempfile.mkdtemp(prefix="ecokg_ds_ck_")
    q = (deduped.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", ck)
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    import atexit
    import shutil
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return spark.read.parquet(out).select(
        "event_id", "user_id", "event_type", "value")


SQL_DEDUP_STREAM = """
SELECT event_id, user_id, event_type, value FROM events
"""


def q_join_stream(spark, sf):
    """Stream-stream windowed inner join (streaming/joins.py
    windowed_stream_join): click x purchase attribution within 30
    minutes per user, both sides file-source streams drained with
    availableNow into an append memory sink; inner-join watermark
    independence makes the batch join the exact oracle."""
    import tempfile

    from ecokg_spark.streaming.joins import windowed_stream_join

    e = t(spark, sf, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"))
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("bts"),
        F.col("event_id").alias("buy_id"))
    csrc = tempfile.mkdtemp(prefix="ecokg_ssj_c_")
    bsrc = tempfile.mkdtemp(prefix="ecokg_ssj_b_")
    clicks.write.mode("overwrite").parquet(csrc)
    buys.write.mode("overwrite").parquet(bsrc)
    cs = spark.readStream.schema(clicks.schema).parquet(csrc)
    bs = spark.readStream.schema(buys.schema).parquet(bsrc)
    joined = windowed_stream_join(
        cs, bs, "user_id", "cts", "bts", window_s=1800
    ).select("user_id", "click_id", "buy_id")
    _STREAM_SEQ[0] += 1
    name = f"ssj_stream_{_STREAM_SEQ[0]}"
    ck = tempfile.mkdtemp(prefix="ecokg_ssj_ck_")
    q = (joined.writeStream.format("memory").queryName(name)
         .outputMode("append").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


SQL_JOIN_STREAM = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1800 SECONDS
"""
