"""Streaming smoke tests: file-source micro-batches driven synchronously to
completion (the TopologyTestDriver equivalent) and compared against the
batch/oracle results where meaningful."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from kafka_streams_examples_spark.catalog import table
from kafka_streams_examples_spark.streaming.core import (
    run_to_memory, stream_table,
)
from kafka_streams_examples_spark.streaming.dedup import dedup_stream
from kafka_streams_examples_spark.streaming.pipelines import (
    session_counts, streaming_wordcount, windowed_counts,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_streaming_wordcount_matches_batch(spark, sf_dir):
    lines = stream_table(spark, sf_dir, "documents")
    name, q = run_to_memory(streaming_wordcount(lines), mode="complete")
    try:
        got = {r["word"]: r["count"] for r in spark.table(name).collect()}
    finally:
        q.stop()
    batch = (table(spark, sf_dir, "documents")
             .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
             .filter(F.col("word") != "").groupBy("word").count())
    want = {r["word"]: r["count"] for r in batch.collect()}
    assert got == want


def test_streaming_windowed_counts_append(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events")
    name, q = run_to_memory(windowed_counts(ev), mode="append")
    try:
        n_stream = spark.table(name).agg(F.sum("n")).first()[0]
    finally:
        q.stop()
    # append mode emits only windows closed by the final watermark; all but
    # the last ~2h of data must be present
    total = table(spark, sf_dir, "events").count()
    assert n_stream is not None and 0 < n_stream <= total


def test_streaming_session_counts(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events")
    name, q = run_to_memory(session_counts(ev), mode="append")
    try:
        out = spark.table(name)
        assert out.count() > 0
        # session invariant: no two sessions for one user may overlap-with-gap;
        # equivalently per user the starts are unique
        dup = (out.groupBy("user_id", "session_start").count()
                  .filter(F.col("count") > 1).count())
    finally:
        q.stop()
    assert dup == 0


def test_dedup_within_watermark(spark, tmp_path):
    rows = [("e1", ts("2024-01-01 10:00:00")),
            ("e1", ts("2024-01-01 10:05:00")),   # dup within ttl -> dropped
            ("e2", ts("2024-01-01 10:06:00"))]
    src = tmp_path / "in"
    spark.createDataFrame(rows, "event_id string, ts timestamp") \
         .coalesce(1).write.parquet(str(src))
    stream = (spark.readStream
              .schema("event_id string, ts timestamp").parquet(str(src)))
    name, q = run_to_memory(dedup_stream(stream, ["event_id"], ttl="10 minutes"),
                            mode="append")
    try:
        got = sorted(r["event_id"] for r in spark.table(name).collect())
    finally:
        q.stop()
    assert got == ["e1", "e2"]


def test_streaming_interval_join(spark):
    import tempfile
    from kafka_streams_examples_spark.streaming.pipelines import interval_join_stream

    with tempfile.TemporaryDirectory() as d:
        l_rows = [("a", ts("2024-01-01 10:00:00"))]
        r_rows = [("a", ts("2024-01-01 10:30:00")),
                  ("a", ts("2024-01-01 12:00:00"))]
        spark.createDataFrame(l_rows, "l_key string, l_ts timestamp") \
             .write.parquet(d + "/l")
        spark.createDataFrame(r_rows, "r_key string, r_ts timestamp") \
             .write.parquet(d + "/r")
        l = spark.readStream.schema("l_key string, l_ts timestamp").parquet(d + "/l")
        r = spark.readStream.schema("r_key string, r_ts timestamp").parquet(d + "/r")
        name, q = run_to_memory(interval_join_stream(l, r, "key"), mode="append")
        try:
            out = spark.table(name).collect()
        finally:
            q.stop()
        assert len(out) == 1 and out[0]["r_ts"] == ts("2024-01-01 10:30:00")


def test_ktable_materializer_upsert(spark, tmp_path):
    from kafka_streams_examples_spark.serving import DiskStateStore
    from kafka_streams_examples_spark.streaming.ktable import KTableMaterializer

    src = tmp_path / "src"
    state = tmp_path / "state"
    rows1 = [("alice", "europe", ts("2024-01-01 10:00:00")),
             ("bob", "americas", ts("2024-01-01 10:00:00"))]
    spark.createDataFrame(rows1, "user string, region string, ts timestamp") \
         .coalesce(1).write.mode("append").parquet(str(src))
    mat = KTableMaterializer(spark, str(state), ["user"], "ts")
    stream = spark.readStream.schema("user string, region string, ts timestamp") \
                  .parquet(str(src))
    q = stream.writeStream.outputMode("append").foreachBatch(mat).start()
    q.processAllAvailable()
    # second batch: alice moves
    rows2 = [("alice", "asia", ts("2024-01-01 11:00:00"))]
    spark.createDataFrame(rows2, "user string, region string, ts timestamp") \
         .coalesce(1).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()
    store = DiskStateStore(spark, str(state), "user")
    got = {r["user"]: r["region"] for r in store.all().collect()}
    assert got == {"alice": "asia", "bob": "americas"}
    assert store.get("bob")[0]["region"] == "americas"


def test_streaming_music_charts_matches_batch(spark, sf_dir):
    from kafka_streams_examples_spark.registry import QUERIES
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_music_charts, top5_from_counts,
    )

    plays = (stream_table(spark, sf_dir, "lineitem")
             .select(F.col("l_partkey").alias("song_id"),
                     F.col("l_quantity").alias("quantity")))
    songs = (table(spark, sf_dir, "part")
             .select(F.col("p_partkey").alias("song_id"),
                     F.col("p_name").alias("song_name"),
                     F.col("p_brand").alias("genre")))
    counts = streaming_music_charts(plays, songs)
    name, q = run_to_memory(counts, mode="complete")
    try:
        got = top5_from_counts(spark.table(name)).collect()
    finally:
        q.stop()
    want = QUERIES["music_charts"].spark(spark, sf_dir).collect()
    key = lambda r: (r["genre"], r["rnk"])
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[1])) == \
           sorted(map(tuple, want), key=lambda t: (t[0], t[1]))


def test_music_charts_stream_to_store_to_serving(spark, sf_dir, tmp_path):
    """The reference's full KafkaMusic architecture end-to-end
    (KafkaMusicExample.java:281-378 + MusicPlaysRestService): streaming
    play counts (update mode) -> foreachBatch upsert into the bucketed
    state store (only updated keys flow per batch) -> read-time top-5
    charts served FROM the store — must equal the batch oracle query."""
    from kafka_streams_examples_spark.registry import QUERIES
    from kafka_streams_examples_spark.serving import DiskStateStore
    from kafka_streams_examples_spark.streaming.ktable import KTableMaterializer
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_music_charts, top5_from_counts,
    )

    plays = (stream_table(spark, sf_dir, "lineitem")
             .select(F.col("l_partkey").alias("song_id"),
                     F.col("l_quantity").alias("quantity")))
    songs = (table(spark, sf_dir, "part")
             .select(F.col("p_partkey").alias("song_id"),
                     F.col("p_name").alias("song_name"),
                     F.col("p_brand").alias("genre")))
    counts = streaming_music_charts(plays, songs)

    state = tmp_path / "charts_state"
    mat = KTableMaterializer(spark, str(state), ["genre", "song_id"],
                             ts_col="__v")

    def sink(batch, epoch):
        # update-mode batches carry only keys whose count changed; the
        # epoch number versions them for the latest-per-key merge
        mat(batch.withColumn("__v", F.lit(epoch).cast("long")), epoch)

    q = (counts.writeStream.outputMode("update").foreachBatch(sink).start())
    q.processAllAvailable()
    q.stop()

    store = DiskStateStore(spark, str(state), "song_id")
    served = top5_from_counts(store.all().drop("__v")).collect()
    want = QUERIES["music_charts"].spark(spark, sf_dir).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, want))


def test_streaming_pageview_region_append(spark, sf_dir):
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_pageview_region,
    )

    views = stream_table(spark, sf_dir, "events").select("user_id", "ts")
    uregion = (table(spark, sf_dir, "customer")
               .join(table(spark, sf_dir, "nation"),
                     F.col("c_nationkey") == F.col("n_nationkey"))
               .select(F.col("c_custkey").alias("user_id"),
                       F.col("n_name").alias("region")))
    name, q = run_to_memory(streaming_pageview_region(views, uregion),
                            mode="append")
    try:
        out = spark.table(name)
        # append emits only watermark-closed windows; every emitted row must
        # agree exactly with the batch result for its (region, window)
        from kafka_streams_examples_spark.registry import QUERIES
        batch = QUERIES["pageview_region"].spark(spark, sf_dir)
        merged = (out.alias("s").join(batch.alias("b"),
                                      ["region", "window_start"], "left"))
        assert out.count() > 0
        assert merged.filter(F.col("s.n_views") != F.col("b.n_views")).count() == 0
    finally:
        q.stop()


def test_ktable_checkpoint_restart_recovers(spark, tmp_path):
    """§2.8 exactly-once-style recovery: stop the query, append more data,
    restart from the SAME checkpoint — already-processed files are not
    reprocessed and state converges to latest-per-key."""
    from kafka_streams_examples_spark.serving import DiskStateStore
    from kafka_streams_examples_spark.streaming.ktable import KTableMaterializer

    src, state, ckpt = tmp_path / "src", tmp_path / "state", tmp_path / "ckpt"
    schema = "user string, region string, ts timestamp"
    spark.createDataFrame([("alice", "europe", ts("2024-01-01 10:00:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    mat = KTableMaterializer(spark, str(state), ["user"], "ts")

    def start():
        return (spark.readStream.schema(schema).parquet(str(src))
                .writeStream.outputMode("append")
                .option("checkpointLocation", str(ckpt))
                .foreachBatch(mat).start())

    q = start()
    q.processAllAvailable()
    q.stop()
    # while the query is down, new data arrives
    spark.createDataFrame([("alice", "asia", ts("2024-01-01 11:00:00")),
                           ("bob", "americas", ts("2024-01-01 11:00:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    q = start()
    q.processAllAvailable()
    q.stop()
    store = DiskStateStore(spark, str(state), "user")
    got = {r["user"]: r["region"] for r in store.all().collect()}
    assert got == {"alice": "asia", "bob": "americas"}


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """W7 grace period: an event older than (max event time - watermark)
    arriving in a later batch is dropped from its (already closed) window."""
    src = tmp_path / "late_src"
    schema = "k string, ts timestamp"
    # batch 1: establish event time up to 12:00 (watermark 10 min -> 11:50)
    spark.createDataFrame([("a", ts("2024-01-01 10:00:30")),
                           ("a", ts("2024-01-01 12:00:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 minute"), F.col("k"))
           .agg(F.count("*").alias("n"))
           .select(F.col("window.start").alias("ws"), "k", "n"))
    name, q = run_to_memory(agg, mode="append")
    try:
        # batch 2: a late row for the long-closed 10:00 window -> dropped
        spark.createDataFrame([("a", ts("2024-01-01 10:00:45")),
                               ("a", ts("2024-01-01 13:00:00"))], schema) \
             .coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        # batch 3: advance the watermark past 12:00 so its window emits
        spark.createDataFrame([("a", ts("2024-01-01 14:00:00"))], schema) \
             .coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        got = {r["ws"]: r["n"] for r in spark.table(name).collect()}
    finally:
        q.stop()
    # the 10:00 window must count ONLY the on-time row; late arrival ignored
    assert got[ts("2024-01-01 10:00:00")] == 1
    assert got[ts("2024-01-01 12:00:00")] == 1


def test_session_windows_merge_on_bridging_event(spark, tmp_path):
    """W3 session merge (SessionWindowsExampleTest.java:121-138): two
    sessions 40 min apart merge into one when a bridging event lands in the
    gap — Spark's session_window state merges across micro-batches."""
    src = tmp_path / "sess_src"
    schema = "user string, ts timestamp"
    spark.createDataFrame([("u1", ts("2024-01-01 10:00:00")),
                           ("u1", ts("2024-01-01 10:40:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (stream.withWatermark("ts", "3 hours")
           .groupBy(F.session_window("ts", "30 minutes"), F.col("user"))
           .agg(F.count("*").alias("n"))
           .select(F.col("session_window.start").alias("start"),
                   F.col("session_window.end").alias("end"), "user", "n"))
    name, q = run_to_memory(agg, mode="complete")
    try:
        before = spark.table(name).collect()
        assert len(before) == 2           # 40 min gap > 30 -> two sessions
        # the bridge: 10:20 is within 30 min of both -> one merged session
        spark.createDataFrame([("u1", ts("2024-01-01 10:20:00"))], schema) \
             .coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        after = spark.table(name).collect()
    finally:
        q.stop()
    assert len(after) == 1
    assert after[0]["n"] == 3
    assert after[0]["start"] == ts("2024-01-01 10:00:00")
    assert after[0]["end"] == ts("2024-01-01 11:10:00")  # last event + gap


def test_suppress_vs_update_emission_contract(spark, tmp_path):
    """W8 suppress(untilWindowCloses) vs full-changelog emission
    (CustomWindowTest.java:283-291 / WordCountLambdaExample.java:173-174):
    the SAME windowed count over two batches emits intermediate updates in
    update mode (count 1 then 2 for the growing window) but exactly ONE
    final row per window in append mode once the watermark closes it."""
    def run(mode):
        src = tmp_path / f"src_{mode}"
        schema = "k string, ts timestamp"
        spark.createDataFrame([("a", ts("2024-01-01 10:00:10"))], schema) \
             .coalesce(1).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = (stream.withWatermark("ts", "5 minutes")
               .groupBy(F.window("ts", "1 minute"), F.col("k"))
               .agg(F.count("*").alias("n"))
               .select(F.col("window.start").alias("ws"), "k", "n"))
        name, q = run_to_memory(agg, mode=mode)
        try:
            # batch 2: same window grows; batch 3: advance watermark past it
            spark.createDataFrame([("a", ts("2024-01-01 10:00:40"))], schema) \
                 .coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            spark.createDataFrame([("a", ts("2024-01-01 11:00:00"))], schema) \
                 .coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            return [r["n"] for r in spark.table(name).collect()
                    if r["ws"] == ts("2024-01-01 10:00:00")]
        finally:
            q.stop()

    # update mode: the 10:00 window's count is observable at 1 AND at 2
    # (per-batch conflation of the changelog, cache-off reference behavior)
    assert sorted(run("update")) == [1, 2]
    # append mode: exactly one FINAL emission after the window closes
    assert run("append") == [2]


def test_stream_stream_outer_join_null_padding(spark, tmp_path):
    """J4 (StreamToStreamJoinIntegrationTest.java:96-110): unmatched left
    rows emit null-padded output once the watermark passes the join window
    — Spark's stream-stream full_outer with watermark matches the
    reference's emit-on-window-expiry."""
    l_dir, r_dir = tmp_path / "imp", tmp_path / "clk"
    spark.createDataFrame(
        [("ad1", ts("2024-01-01 10:00:00")), ("ad2", ts("2024-01-01 10:00:01"))],
        "l_key string, l_ts timestamp").coalesce(1) \
        .write.mode("append").parquet(str(l_dir))
    spark.createDataFrame(
        [("ad1", ts("2024-01-01 10:00:03"))],
        "r_key string, r_ts timestamp").coalesce(1) \
        .write.mode("append").parquet(str(r_dir))
    l = (spark.readStream.schema("l_key string, l_ts timestamp").parquet(str(l_dir))
         .withWatermark("l_ts", "10 seconds"))
    r = (spark.readStream.schema("r_key string, r_ts timestamp").parquet(str(r_dir))
         .withWatermark("r_ts", "10 seconds"))
    cond = ((l["l_key"] == r["r_key"])
            & (r["r_ts"] >= l["l_ts"])
            & (r["r_ts"] <= l["l_ts"] + F.expr("INTERVAL 5 SECONDS")))
    name, q = run_to_memory(l.join(r, cond, "full_outer"), mode="append")
    try:
        # advance both watermarks far past ad2's window so its null-padded
        # row flushes from state
        spark.createDataFrame([("zz", ts("2024-01-01 10:05:00"))],
                              "l_key string, l_ts timestamp").coalesce(1) \
             .write.mode("append").parquet(str(l_dir))
        spark.createDataFrame([("zz2", ts("2024-01-01 10:05:00"))],
                              "r_key string, r_ts timestamp").coalesce(1) \
             .write.mode("append").parquet(str(r_dir))
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    matched = {(r["l_key"], r["r_key"]) for r in rows
               if r["l_key"] is not None and r["r_key"] is not None}
    null_padded = {r["l_key"] for r in rows
                   if r["l_key"] is not None and r["r_key"] is None}
    assert ("ad1", "ad1") in matched
    assert "ad2" in null_padded            # expired unmatched -> (ad2, null)


def test_streaming_order_validation_end_to_end(spark, tmp_path):
    """Flagship 3 streaming: three validators fan out over one order
    stream, verdicts merge; tally at read time (the EndToEndTest analog)."""
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_order_validation,
    )

    src = tmp_path / "orders_src"
    schema = ("customer string, order_id string, order_value double, "
              "ts timestamp, q double")
    rows = [
        ("c1", "o1", 100.0, ts("2024-01-01 10:00:00"), 10.0),    # all pass
        ("c1", "o2", 500000.0, ts("2024-01-01 10:01:00"), 10.0), # details FAIL (>450k) + fraud FAIL
        ("c2", "o3", 100.0, ts("2024-01-01 10:00:00"), 300.0),   # inventory FAIL (q>250)
    ]
    spark.createDataFrame(rows, schema).coalesce(1) \
         .write.mode("append").parquet(str(src))
    qty = spark.createDataFrame([(r[1], r[4]) for r in rows],
                                "order_id string, q double")
    stream = spark.readStream.schema(schema).parquet(str(src)) \
                  .select("customer", "order_id", "order_value", "ts")
    out = streaming_order_validation(stream, qty)
    name, q = run_to_memory(out, mode="update")
    try:
        rows_out = spark.table(name).collect()
    finally:
        q.stop()
    verdicts = {(r["order_id"], r["validator"]): r["verdict"] for r in rows_out}
    # every order × every validator exactly once
    assert len(verdicts) == 9 and len(rows_out) == 9
    n_pass = {}
    for (oid, _v), verdict in verdicts.items():
        n_pass[oid] = n_pass.get(oid, 0) + (verdict == "PASS")
    assert n_pass == {"o1": 3, "o2": 1, "o3": 2}
    assert verdicts[("o2", "details")] == "FAIL"
    assert verdicts[("o2", "fraud")] == "FAIL"      # 500100 > 400k session
    assert verdicts[("o3", "inventory")] == "FAIL"


def test_kafka_avro_payload_to_order_validation_end_to_end(spark, tmp_path):
    """Broker-less Kafka choreography (EndToEndTest.java analog): orders are
    Confluent-framed binary Avro payloads in Kafka-source-shaped records
    (key/value/topic/partition/offset/timestamp), replayed as a file
    stream. The pipeline spans framing -> pure-Python Avro decode
    (mapInPandas on the STREAM) -> poison-pill skip -> the three-validator
    fan-out -> memory sink — the full payload path a real broker would
    feed, minus only the socket."""
    from kafka_streams_examples_spark.sources.avro_codec import (
        encode_record, frame_confluent,
    )
    from kafka_streams_examples_spark.sources.kafka import (
        decode_kafka_avro_batch,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_order_validation,
    )

    avsc = """
    {"type": "record", "name": "Order", "fields": [
      {"name": "customer", "type": "string"},
      {"name": "order_id", "type": "string"},
      {"name": "order_value", "type": "double"},
      {"name": "ts_us", "type": "long"}]}
    """
    base_us = int(ts("2024-01-01 10:00:00").timestamp() * 1_000_000)
    orders = [
        {"customer": "c1", "order_id": "o1", "order_value": 100.0,
         "ts_us": base_us},
        {"customer": "c1", "order_id": "o2", "order_value": 500000.0,
         "ts_us": base_us + 60_000_000},
        {"customer": "c2", "order_id": "o3", "order_value": 100.0,
         "ts_us": base_us},
    ]
    payloads = [frame_confluent(7, encode_record(avsc, o)) for o in orders]
    payloads.append(b"\x00\x00\x00\x00\x07garbage-not-avro")  # poison pill
    kafka_rows = [
        (f"k{i}", bytearray(p), "orders", 0, i, ts("2024-01-01 10:05:00"))
        for i, p in enumerate(payloads)
    ]
    kafka_schema = ("key string, value binary, topic string, "
                    "partition int, offset long, timestamp timestamp")
    src = tmp_path / "kafka_orders"
    spark.createDataFrame(kafka_rows, kafka_schema).coalesce(1) \
         .write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(kafka_schema).parquet(str(src))
    decoded = (decode_kafka_avro_batch(stream, avsc, on_error="null")
               .filter(F.col("order_id").isNotNull())   # drop poison pill
               .select("customer", "order_id", "order_value",
                       F.timestamp_micros("ts_us").alias("ts")))
    qty = spark.createDataFrame(
        [("o1", 10.0), ("o2", 10.0), ("o3", 300.0)],
        "order_id string, q double")
    out = streaming_order_validation(decoded, qty)
    name, q = run_to_memory(out, mode="update")
    try:
        rows_out = spark.table(name).collect()
    finally:
        q.stop()
    verdicts = {(r["order_id"], r["validator"]): r["verdict"] for r in rows_out}
    # poison pill contributed nothing; 3 orders x 3 validators exactly once
    assert len(verdicts) == 9 and len(rows_out) == 9
    assert verdicts[("o2", "details")] == "FAIL"        # >450k
    assert verdicts[("o2", "fraud")] == "FAIL"          # session 500100 > 400k
    assert verdicts[("o3", "inventory")] == "FAIL"      # q>250
    assert all(v == "PASS" for (oid, _), v in verdicts.items() if oid == "o1")


def test_global_store_updater_refresh_mid_stream(spark, tmp_path):
    """T6 global store updater (GlobalStoresExample.java:219-248): each
    micro-batch must see the dimension AS OF that batch. Batch 1 joins
    the v1 prices; the dim is then overwritten (the updater's put) and
    batch 2 must join the v2 prices."""
    from kafka_streams_examples_spark.streaming.globalstore import (
        GlobalStoreEnricher,
    )

    dim = tmp_path / "dim"
    src = tmp_path / "orders"
    out = tmp_path / "enriched"
    spark.createDataFrame([("widget", 10.0), ("bolt", 2.0)],
                          "product string, price double") \
         .write.mode("overwrite").parquet(str(dim))
    spark.createDataFrame([("o1", "widget")],
                          "order_id string, product string") \
         .coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("order_id string, product string") \
                  .parquet(str(src))
    q = (stream.writeStream.outputMode("append")
               .foreachBatch(GlobalStoreEnricher(
                   spark, str(dim), ["product"], str(out)))
               .start())
    try:
        q.processAllAvailable()
        # the updater puts a new value: overwrite the dim, then more orders
        spark.createDataFrame([("widget", 99.0), ("bolt", 2.0)],
                              "product string, price double") \
             .write.mode("overwrite").parquet(str(dim))
        spark.createDataFrame([("o2", "widget")],
                              "order_id string, product string") \
             .coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    prices = {r["order_id"]: r["price"]
              for r in spark.read.parquet(str(out)).collect()}
    assert prices == {"o1": 10.0, "o2": 99.0}


def test_application_reset_reprocesses_from_scratch(spark, tmp_path):
    """§2.8 app reset (ApplicationResetExample.java:95-118 +
    streams.cleanUp()): deleting the checkpoint AND the state dir, then
    rerunning, must reprocess every input from offset zero and converge
    to the identical final state — the reset contract that makes
    reprocessing safe."""
    import shutil

    from kafka_streams_examples_spark.serving import DiskStateStore
    from kafka_streams_examples_spark.streaming.ktable import KTableMaterializer

    src, state, ckpt = tmp_path / "src", tmp_path / "state", tmp_path / "ckpt"
    schema = "user string, region string, ts timestamp"
    spark.createDataFrame([("alice", "europe", ts("2024-01-01 10:00:00")),
                           ("bob", "americas", ts("2024-01-01 10:30:00")),
                           ("alice", "asia", ts("2024-01-01 11:00:00"))],
                          schema) \
         .coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        mat = KTableMaterializer(spark, str(state), ["user"], "ts")
        q = (spark.readStream.schema(schema).parquet(str(src))
             .writeStream.outputMode("append")
             .option("checkpointLocation", str(ckpt))
             .foreachBatch(mat).start())
        q.processAllAvailable()
        q.stop()
        store = DiskStateStore(spark, str(state), "user")
        return {r["user"]: r["region"] for r in store.all().collect()}

    first = run_once()
    assert first == {"alice": "asia", "bob": "americas"}
    # the reset: wipe checkpoint + local state (streams.cleanUp()), rerun
    shutil.rmtree(ckpt)
    shutil.rmtree(state)
    assert run_once() == first


def test_streaming_corpus_filter_matches_batch_fingerprints(spark, sf_dir, tmp_path):
    """Streaming corpus prep keeps exactly the batch operator's
    fingerprint set (same quality gate, same distinct-content survivors);
    only the kept representative id may differ (first arrival vs min id)."""
    from kafka_streams_examples_spark.operators.text import corpus_prep
    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_corpus_filter,
    )

    docs = table(spark, sf_dir, "documents")
    (docs.withColumn("ts", F.to_timestamp(F.lit("2024-01-01 10:00:00")))
         .repartition(3).write.parquet(str(tmp_path / "docs_src")))
    schema = spark.read.parquet(str(tmp_path / "docs_src")).schema
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "docs_src")))
    name, q = run_to_memory(streaming_corpus_filter(stream), mode="append")
    try:
        got = spark.table(name).collect()
    finally:
        q.stop()
    want = corpus_prep(docs).collect()
    assert {r["fp"] for r in got} == {r["fp"] for r in want}
    assert len(got) == len(want)


def test_streaming_pii_redaction_matches_batch(spark, sf_dir):
    """pii_redact is a pure Column cascade, so it must run unchanged on a
    stream (S1 -> P12-generalized -> sink) and agree with batch exactly —
    including on rows carrying injected PII."""
    from kafka_streams_examples_spark.operators.text import pii_redact

    def with_pii(docs):
        did = F.col("doc_id")
        aug = F.concat(
            F.col("text"),
            F.when(did % 5 == 0,
                   F.concat(F.lit(" mail user"), did.cast("string"),
                            F.lit("@example.com"))).otherwise(""))
        return docs.select("doc_id", aug.alias("text"))

    stream = with_pii(stream_table(spark, sf_dir, "documents"))
    name, q = run_to_memory(pii_redact(stream), mode="append")
    try:
        got = {r["doc_id"]: (r["n_email"], r["redacted"])
               for r in spark.table(name).collect()}
    finally:
        q.stop()
    batch = pii_redact(with_pii(table(spark, sf_dir, "documents")))
    want = {r["doc_id"]: (r["n_email"], r["redacted"])
            for r in batch.collect()}
    assert got == want
    assert any(n == 1 for n, _ in got.values())  # the injection was live


def test_music_charts_service_converges_shuffled_on_rocksdb(
        spark, sf_dir, tmp_path):
    """Flagship two-level top-5 as a streaming replay converging to the
    batch oracle (the ordered_concat pattern, VERDICT r6 item 8): play
    events arrive in RANDOMIZED order split across 4 micro-batches, the
    composed service (streaming counts -> bucketed KTable materializer ->
    read-time rank) runs under the RocksDB state-store provider, and the
    served charts after the drain must equal the registry music_charts
    result row-for-row. Mid-stream the charts must also be readable
    (monotone convergence: a valid top-5 over partial counts)."""
    from kafka_streams_examples_spark.registry import QUERIES
    from kafka_streams_examples_spark.streaming.pipelines import (
        music_charts_service,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = ("org.apache.spark.sql.execution.streaming."
               "state.RocksDBStateStoreProvider")
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, rocksdb)
    try:
        plays_src = (table(spark, sf_dir, "lineitem")
                     .select(F.col("l_partkey").alias("song_id"),
                             F.col("l_quantity").alias("quantity")))
        (plays_src.orderBy(F.hash("song_id", "quantity"))  # deterministic disorder
                  .repartition(4)
                  .write.parquet(str(tmp_path / "shuffled_plays")))
        schema = spark.read.parquet(str(tmp_path / "shuffled_plays")).schema
        plays = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", 1)
                 .parquet(str(tmp_path / "shuffled_plays")))
        songs = (table(spark, sf_dir, "part")
                 .select(F.col("p_partkey").alias("song_id"),
                         F.col("p_name").alias("song_name"),
                         F.col("p_brand").alias("genre")))
        q, charts = music_charts_service(
            spark, plays, songs, str(tmp_path / "charts_state"))
        try:
            q.processAllAvailable()
            # mid-run read-sanity: the serving path works while the query
            # is live, and every genre chart is a dense 1..n<=5 rank run
            mid = charts().collect()
            for genre in {r["genre"] for r in mid}:
                rnks = sorted(r["rnk"] for r in mid if r["genre"] == genre)
                assert rnks == list(range(1, len(rnks) + 1)) and len(rnks) <= 5
            got = charts().collect()
        finally:
            q.stop()
        want = QUERIES["music_charts"].spark(spark, sf_dir).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_stream_near_dup_equals_batch_incremental(spark, sf_dir):
    """The stream-static near-dup probe must produce EXACTLY the batch
    incremental_minhash_pairs rows for the same batch/corpus split —
    same profiles, same bands, same Jaccard — and must do it statelessly
    (one emission per pair via the first-common-band filter, no
    dropDuplicates state)."""
    from pyspark.sql import functions as F

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.dedup import (
        incremental_minhash_pairs,
    )
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.dedup import (
        near_dup_index, stream_near_dup,
    )

    docs = cat_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    idx = near_dup_index(corpus).localCheckpoint(eager=False)
    out = stream_near_dup(
        stream_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 7),
        idx, threshold=0.2)
    name, q = run_to_memory(out, mode="append")
    rows = spark.table(name).collect()
    q.stop()
    got = {(r.new_id, r.corpus_id, r.jac) for r in rows}
    want = {(r.new_id, r.corpus_id, r.jac)
            for r in incremental_minhash_pairs(
                docs.filter(F.col("doc_id") % 10 == 7), corpus,
                num_hashes=8, bands=4, jaccard_threshold=0.2).collect()}
    assert got == want and got
    # exactly-once per pair even though pairs can collide in >1 band
    assert len(rows) == len({(r.new_id, r.corpus_id) for r in rows})


def test_python_stateful_pipelines_keep_python_cost_class(spark, sf_dir):
    """Regression net for the r7 streaming collapse (fraud_check 78k→25k
    rows/s): the bench's Python-stateful pipelines MUST size their
    shuffle partitions with cost_class="python" — the partition count IS
    the applyInPandasWithState worker parallelism there. A uniform-sizing
    refactor that drops cost_class from the bench case table (or from
    sized_shuffle_partitions) re-runs the pandas folds on ~2 workers at
    sf0.1 and silently loses 3x throughput; this test pins both the
    declared classes and the sizing arithmetic, then runs one pipeline
    end-to-end and asserts the recorded partition count is the
    python-class value."""
    import bench
    from kafka_streams_examples_spark.streaming.core import (
        sized_shuffle_partitions,
    )

    # the r7 failure signature, as arithmetic: at sf0.1's 100k events a
    # jvm-sized stream gets 2 partitions; python-sized gets the swept
    # optimum 16 (STREAM_AB_r08.json: throughput knee at 12-16)
    assert sized_shuffle_partitions(100_000, 32, cost_class="jvm") == 2
    assert sized_shuffle_partitions(100_000, 32, cost_class="python") == 16

    cases = bench.stream_cases(spark, sf_dir)
    declared = {n: c[3] for n, c in cases.items()}
    assert declared["fraud_check"] == "python"
    assert declared["ordered_concat"] == "python"
    # pack_sequences is applyInPandasWithState too but numpy-vectorized
    # over ~5 keys — deliberately jvm (empty-commit overhead dominates)
    assert declared["pack_sequences"] == "jvm"

    out = bench.stream_bench(spark, sf_dir, only=["fraud_check"],
                             n_samples=1)
    rows_in = cases["fraud_check"][2]
    want = sized_shuffle_partitions(
        rows_in, int(spark.sparkContext.defaultParallelism),
        cost_class="python")
    assert out["fraud_check"]["shuffle_partitions"] == want
    assert out["fraud_check"]["cost_class"] == "python"


def test_streaming_bpe_encode_equals_batch(spark, sf_dir):
    """Ingest-time BPE tokenization: the trained codec applied to the
    document stream must produce row-for-row the token-id sequences the
    batch encoder computes on the same fixture (the codec is the only
    state; the encode is stateless scan expressions on both sides)."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.bpe import (
        bpe_codec, bpe_encode,
    )
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_bpe_encode,
    )

    docs = cat_table(spark, sf_dir, "documents")
    codec = bpe_codec(docs, merges=6)
    out = streaming_bpe_encode(stream_table(spark, sf_dir, "documents"),
                               codec)
    name, q = run_to_memory(out, mode="append")
    got = {tuple(r) for r in spark.table(name).collect()}
    q.stop()
    want = {tuple(r) for r in bpe_encode(docs, merges=6).collect()}
    assert got == want and got


def test_streaming_gopher_gate_equals_batch(spark, sf_dir):
    """The ingest-time Gopher gate is the batch battery verbatim
    (stateless Column expressions), so the streamed verdicts must be
    row-for-row identical to gopher_rules on the same fixture."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.text import gopher_rules
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_gopher_gate,
    )

    out = streaming_gopher_gate(stream_table(spark, sf_dir, "documents"))
    name, q = run_to_memory(out, mode="append")
    got = {tuple(r) for r in spark.table(name).collect()}
    q.stop()
    want = {tuple(r)
            for r in gopher_rules(cat_table(spark, sf_dir, "documents"))
            .collect()}
    assert got == want and got


def test_streaming_nb_filter_equals_batch(spark, sf_dir):
    """Ingest-time NB quality scoring: the trained model applied to the
    document stream must score row-for-row what the batch composition
    computes on the same fixture (the 1-row codec is the only state;
    scoring is a stateless scan-side fold on both sides)."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.text import (
        nb_model, nb_quality,
    )
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_nb_filter,
    )

    docs = cat_table(spark, sf_dir, "documents")
    model = nb_model(docs)
    out = streaming_nb_filter(stream_table(spark, sf_dir, "documents"),
                              model)
    name, q = run_to_memory(out, mode="append")
    got = {tuple(r) for r in spark.table(name).collect()}
    q.stop()
    want = {(r.doc_id, r.score, r.pred_target)
            for r in nb_quality(docs).collect()}
    assert got == want and got


def test_streaming_line_filter_equals_batch(spark, sf_dir):
    """Ingest-time boilerplate cut: the batch-detected line-hash codec
    applied to the document stream must produce row-for-row what the
    batch line_dedup computes on the same fixture."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.text import (
        boiler_codec, line_dedup,
    )
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_line_filter,
    )

    docs = cat_table(spark, sf_dir, "documents")
    codec = boiler_codec(docs)
    out = streaming_line_filter(stream_table(spark, sf_dir, "documents"),
                                codec)
    name, q = run_to_memory(out, mode="append")
    got = {tuple(r) for r in spark.table(name).collect()}
    q.stop()
    want = {tuple(r) for r in line_dedup(docs).collect()}
    assert got == want and got


def test_streaming_ingest_funnel_equals_batch(spark, sf_dir):
    """The COMPOSED ingest path on the stream must reproduce the batch
    composition row-for-row on both of its surfaces: the per-document
    chain verdicts (kind='doc' rows == ingest_gate_flags' first three
    gates) and the admission hits (kind='hit' rows == the batch
    bm25_gate probe over the same cleaned text) — and the sink-side
    set difference must land exactly on ingest_gate_flags.g_admit."""
    from pyspark.sql import functions as F
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.retrieval import (
        bm25_gate, bm25_gate_index,
    )
    from kafka_streams_examples_spark.operators.text import (
        boiler_codec, ingest_chain, ingest_gate_flags, nb_model,
    )
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_ingest_funnel,
    )

    docs = cat_table(spark, sf_dir, "documents")
    arriving = docs.filter(F.col("doc_id") % 10 == 7)
    existing = docs.filter(F.col("doc_id") % 10 != 7)
    boiler = boiler_codec(existing)
    model = nb_model(existing)
    index = bm25_gate_index(existing, r_floor=128, keep_denom=None)

    stream = stream_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") % 10 == 7)
    out = streaming_ingest_funnel(stream, boiler, model, index, tau=5.5)
    name, q = run_to_memory(out, mode="append")
    rows = spark.table(name).collect()
    q.stop()
    got_docs = {(r.doc_id, r.g_gopher, r.g_line, r.g_nb)
                for r in rows if r.kind == "doc"}
    got_hits = {(r.doc_id, r.c_id, r.score)
                for r in rows if r.kind == "hit"}

    flags = {(r.doc_id, r.g_gopher, r.g_line, r.g_nb, r.g_admit)
             for r in ingest_gate_flags(arriving, existing, tau=5.5)
                 .collect()}
    assert got_docs == {(d, g, l, n) for d, g, l, n, _ in flags}
    chain = ingest_chain(arriving, boiler, model)
    want_hits = {(r.new_id, r.c_id, r.score)
                 for r in bm25_gate(chain.select("doc_id", "clean_text"),
                                    index, 5.5,
                                    text_col="clean_text").collect()}
    assert got_hits == want_hits and got_hits
    # the sink-side set difference IS the admission flag
    hit_ids = {d for d, _, _ in got_hits}
    assert {(d, d not in hit_ids) for d, *_ in flags} == \
        {(d, a) for d, _, _, _, a in flags}


def test_streaming_ingest_funnel_from_persisted_artifacts(spark, sf_dir,
                                                          tmp_path):
    """VERDICT r13 item 4 — the production streaming wiring: the
    funnel's artifacts come from a build_ingest_artifacts directory on
    disk, every micro-batch gates with ZERO training jobs (the static
    legs read only artifact bytes — the inputFiles pattern from
    test_ingest_persisted_serving_reads_zero_training_bytes), and the
    stream's verdicts equal the batch funnel's row-for-row, including
    through a HASHED (n_buckets) artifact whose geometry must ride
    {path}/meta onto the stream's scoring expression."""
    from pyspark.sql import functions as F
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.text import (
        build_ingest_artifacts, ingest_gate_flags_from,
        load_ingest_artifacts,
    )
    from kafka_streams_examples_spark.streaming.core import (
        run_to_memory, stream_table,
    )
    from kafka_streams_examples_spark.streaming.pipelines import (
        streaming_ingest_funnel_from,
    )

    docs = cat_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 10 != 7)
    arriving = docs.filter(F.col("doc_id") % 10 == 7)
    for sub, nb in (("ing", None), ("ing_h", 256)):
        path = str(tmp_path / sub)
        build_ingest_artifacts(existing, path, n_buckets=nb)

        # zero-training-bytes: every static leg reads only {path}/*
        for leg in load_ingest_artifacts(spark, path)[:3]:
            files = leg.inputFiles()
            assert files and all(f"/{sub}/" in f for f in files)

        stream = stream_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") % 10 == 7)
        out = streaming_ingest_funnel_from(spark, path, stream, tau=5.5)
        name, q = run_to_memory(out, mode="append")
        rows = spark.table(name).collect()
        q.stop()
        got_docs = {(r.doc_id, r.g_gopher, r.g_line, r.g_nb)
                    for r in rows if r.kind == "doc"}
        hit_ids = {r.doc_id for r in rows if r.kind == "hit"}

        # batch twin over the SAME artifact directory (itself pinned
        # equal to the inline funnel by test_ingest_persisted_equals_
        # inline) — note tau/words_per_line defaults differ between
        # the two surfaces, so pass tau explicitly on both
        flags = {tuple(r) for r in ingest_gate_flags_from(
            spark, path, arriving, tau=5.5).collect()}
        assert got_docs == {(d, g, l, n) for d, g, l, n, _ in flags}
        assert {(d, d not in hit_ids) for d, *_ in flags} == \
            {(d, a) for d, _, _, _, a in flags}
        assert got_docs and hit_ids
