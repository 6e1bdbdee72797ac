"""Structured Streaming operators and sinks: stateful sessions, the
foreachBatch upsert sinks, watermarked dedup, windowed stream joins."""


def test_stateful_streaming_sessions_match_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: drained stream + timeout
    flush must yield the same per-user session counts as the batch
    lag-window sessionizer (contract.q_sessionize semantics)."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ecokg_spark.streaming.sessions import streaming_sessions

    rows = []
    base = 1_700_000_000
    for u in range(6):
        t = base + u * 10_000
        for s in range(u % 3 + 1):          # 1-3 sessions per user
            for e in range(3):               # 3 events per session
                rows.append((u, t + e * 60))
            t += 4000                        # > 1800s gap -> new session
    ev = spark.createDataFrame(rows, "user_id long, ts_s long").select(
        "user_id", F.timestamp_seconds("ts_s").alias("ts"))
    src = str(tmp_path / "events")
    # feed micro-batch files in event-time order (the watermark contract:
    # an event-time stream arrives roughly ordered; events behind the
    # watermark are late data and may be dropped)
    ordered = sorted(rows, key=lambda r: r[1])
    third = len(ordered) // 3 + 1
    for i in range(3):
        chunk = ordered[i * third:(i + 1) * third]
        if chunk:
            spark.createDataFrame(chunk, "user_id long, ts_s long").select(
                "user_id", F.timestamp_seconds("ts_s").alias("ts")
            ).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "sessions")
    q = (streaming_sessions(stream, gap_s=1800)
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="1 second")
         .start())
    # run until every session (incl. timeout-flushed finals) lands
    batch = (
        ev.withColumn(
            "_new",
            F.when(
                (F.unix_timestamp("ts")
                 - F.unix_timestamp(F.lag("ts").over(
                     Window.partitionBy("user_id").orderBy("ts"))))
                .isNull()
                | ((F.unix_timestamp("ts")
                    - F.unix_timestamp(F.lag("ts").over(
                        Window.partitionBy("user_id").orderBy("ts")))) > 1800),
                1).otherwise(0))
        .groupBy("user_id").agg(F.sum("_new").alias("n_sessions"))
    )
    want = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    deadline = time.time() + 120
    got = {}
    tick = 0
    while time.time() < deadline:
        # event-time timeouts fire when the WATERMARK passes
        # last_ts + gap; a real stream's ongoing traffic advances it, so
        # emulate that: tick rows from a dummy user with event times far
        # past every real session's close point
        tick += 1
        spark.createDataFrame(
            [(999, base + 1_000_000 + tick * 60)], "user_id long, ts_s long") \
            .select("user_id", F.timestamp_seconds("ts_s").alias("ts")) \
            .write.mode("append").parquet(src)
        try:
            got = {r["user_id"]: r["n"] for r in
                   spark.read.parquet(out).where(F.col("user_id") != 999)
                   .groupBy("user_id")
                   .agg(F.count(F.lit(1)).alias("n")).collect()}
        except Exception:  # noqa: BLE001 — sink not created yet
            got = {}
        if got == want:
            break
        time.sleep(2)
    q.stop()
    assert got == want
    # session shape sanity: events per session sum to the input
    total_events = spark.read.parquet(out).where(F.col("user_id") != 999).agg(
        F.sum("n_events").alias("s")).collect()[0]["s"]
    assert total_events == len(rows)


def test_incremental_edge_merge(spark, tmp_path):
    """foreachBatch upsert through TableIO.merge_into(when_matched=
    "ignore"): overlapping micro-batches merge into a deduplicated edge
    table equal to the batch (s,p,o)-distinct of the full input; a
    replayed batch appends nothing (idempotence)."""
    from ecokg_spark.io import TableIO

    io = TableIO(spark, str(tmp_path))
    keys = ["subject", "predicate", "object"]

    src = str(tmp_path / "edges_src")
    rows1 = [("A", "p", "B"), ("A", "p", "C"), ("A", "p", "B")]
    rows2 = [("A", "p", "B"), ("B", "p", "C")]   # overlaps batch 1
    schema = "subject string, predicate string, object string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    table = str(tmp_path / "merged")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    (stream.writeStream
     .foreachBatch(lambda batch, _e: io.merge_into(
         batch, "merged", keys, when_matched="ignore"))
     .option("checkpointLocation", str(tmp_path / "ck"))
     .trigger(availableNow=True).start().awaitTermination(120))

    got = {tuple(r) for r in spark.read.parquet(table).collect()}
    assert got == {("A", "p", "B"), ("A", "p", "C"), ("B", "p", "C")}

    # replay batch 2 manually -> idempotent, nothing appended
    io.merge_into(spark.createDataFrame(rows2, schema), "merged", keys,
                  when_matched="ignore")
    assert spark.read.parquet(table).count() == 3


def test_upsert_first_wins_batch(spark, tmp_path):
    """Deterministic first-wins upsert (the streaming exact-dedup leg of
    curate_stream): within a batch the order_col-min row survives per key;
    across batches fed in ascending id ranges the GLOBAL min survives;
    a replayed batch appends nothing."""
    from ecokg_spark.streaming.merge_sink import upsert_first_wins_batch

    schema = "fp string, doc_id long, payload string"
    table = str(tmp_path / "docs")
    b1 = spark.createDataFrame(
        [("x", 3, "x3"), ("x", 1, "x1"), ("y", 2, "y2")], schema)
    b2 = spark.createDataFrame(
        [("x", 7, "x7"), ("z", 9, "z9")], schema)  # x already won by id 1
    upsert_first_wins_batch(b1, table, "fp", "doc_id")
    upsert_first_wins_batch(b2, table, "fp", "doc_id")
    got = {tuple(r) for r in spark.read.parquet(table).collect()}
    assert got == {("x", 1, "x1"), ("y", 2, "y2"), ("z", 9, "z9")}

    upsert_first_wins_batch(b2, table, "fp", "doc_id")  # replay: idempotent
    assert spark.read.parquet(table).count() == 3


def test_dedup_within_watermark_suppresses_batch_dups(spark, tmp_path):
    """Each row fed twice in the same micro-batch -> emitted once; output
    equals the distinct input set (batch parity)."""
    from pyspark.sql import functions as F

    from ecokg_spark.streaming.merge_sink import dedup_within_watermark

    rows = [(i, f"2024-01-01 00:{i:02d}:00", i * 1.5) for i in range(30)]
    d = spark.createDataFrame(rows, "event_id long, ts string, value double") \
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    src = str(tmp_path / "src")
    d.unionAll(d).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(d.schema).parquet(src)
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (dedup_within_watermark(stream, ["event_id"], "ts", "10 minutes")
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == list(range(30))


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    """Micro-batch max-combined registers equal the whole-corpus register
    table — sketch mergeability under Structured Streaming."""
    from pyspark.sql import functions as F

    from ecokg_spark.operators.sketch import hll_registers
    from ecokg_spark.streaming.merge_sink import merge_hll_registers_batch

    d = spark.createDataFrame(
        [(i, f"val-{i % 700}") for i in range(2000)], "doc_id long, v string")
    src = str(tmp_path / "src")
    d.where(F.col("doc_id") < 1000).coalesce(1).write.mode("append").parquet(src)
    d.where(F.col("doc_id") >= 1000).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(d.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "regs")
    q = (stream.writeStream.foreachBatch(
            lambda b, _e: merge_hll_registers_batch(b, out, p=10,
                                                    value_col="v"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted(map(tuple, spark.read.parquet(out).collect()))
    whole = sorted(map(tuple, hll_registers(d, "v", p=10).collect()))
    assert streamed == whole


def test_windowed_stream_join_batch_parity(spark, tmp_path):
    """Stream-stream inner join drained with availableNow equals the
    identical batch join (inner-join watermark independence)."""
    import datetime as dt

    from ecokg_spark.streaming.joins import windowed_stream_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    clicks = [(u, t0 + dt.timedelta(seconds=s), f"c{u}_{s}")
              for u in (1, 2) for s in (0, 100, 5000)]
    buys = [(1, t0 + dt.timedelta(seconds=50), "b1"),
            (1, t0 + dt.timedelta(seconds=1900), "b2"),   # outside 1800s of s=0, inside of s=100
            (2, t0 + dt.timedelta(seconds=5100), "b3"),
            (3, t0 + dt.timedelta(seconds=10), "b4")]     # no matching user
    cdf = spark.createDataFrame(clicks, "user_id long, cts timestamp, click_id string")
    bdf = spark.createDataFrame(buys, "user_id long, bts timestamp, buy_id string")

    batch = windowed_stream_join(cdf, bdf, "user_id", "cts", "bts",
                                 window_s=1800).select("click_id", "buy_id")
    expected = sorted(map(tuple, batch.collect()))
    assert expected  # non-trivial fixture

    csrc, bsrc = str(tmp_path / "c"), str(tmp_path / "b")
    cdf.write.parquet(csrc)
    bdf.write.parquet(bsrc)
    cs = spark.readStream.schema(cdf.schema).parquet(csrc)
    bs = spark.readStream.schema(bdf.schema).parquet(bsrc)
    joined = windowed_stream_join(cs, bs, "user_id", "cts", "bts",
                                  window_s=1800).select("click_id", "buy_id")
    q = (joined.writeStream.format("memory").queryName("ssj_parity")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("ssj_parity").collect()))
    assert got == expected
