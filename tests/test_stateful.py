"""Stateful processor tests (applyInPandasWithState) + the batch
reservation invariants."""

from __future__ import annotations

import contextlib
import random
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from kafka_streams_examples_spark.streaming.core import run_to_memory
from kafka_streams_examples_spark.streaming.stateful import (
    join_wait, ordered_concat, reservations, running_counts,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@contextlib.contextmanager
def arrow_chunks(spark, n: int = 5):
    """Cap Arrow batches at n rows, so a key with more than n rows in one
    micro-batch reaches its fold in several chunks."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def shuffled(rows: list, seed: int = 7) -> list:
    rows = list(rows)
    random.Random(seed).shuffle(rows)
    return rows


def test_running_counts_accumulate_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    spark.createDataFrame([("a",), ("a",), ("b",)], "word string") \
         .coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("word string").parquet(str(src))
    name, q = run_to_memory(running_counts(stream), mode="update")
    try:
        spark.createDataFrame([("a",)], "word string") \
             .coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    # update mode: latest row per word is the running total (T1: every
    # increment observable per batch; final state a=3, b=1)
    latest = {}
    for r in rows:
        latest[r["word"]] = max(latest.get(r["word"], 0), r["count"])
    assert latest == {"a": 3, "b": 1}


def test_reservations_sequential_capacity(spark, tmp_path):
    src = tmp_path / "orders"
    rows = [("widget", "o1", 60.0, ts("2024-01-01 10:00:00")),
            ("widget", "o2", 30.0, ts("2024-01-01 10:01:00")),
            ("widget", "o3", 30.0, ts("2024-01-01 10:02:00")),   # over capacity
            ("gadget", "o4", 5.0, ts("2024-01-01 10:00:00"))]
    # 60 "bolt" orders in shuffled arrival order, one micro-batch: with
    # 5-row Arrow chunks the fold must still reserve in event-time order
    rng = random.Random(3)
    bolts = [("bolt", f"b{i}", float(rng.randint(1, 9)),
              ts("2024-01-01 09:00:00") + timedelta(minutes=i))
             for i in range(60)]
    reserved, want_bolts = 0.0, {}
    for _, oid, qty, _ in bolts:            # sequential reference fold
        ok = reserved + qty <= 100.0
        reserved += qty if ok else 0.0
        want_bolts[oid] = "PASS" if ok else "FAIL"
    with arrow_chunks(spark):
        spark.createDataFrame(
            rows + shuffled(bolts),
            "product string, order_id string, quantity double, ts timestamp") \
            .coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(
            "product string, order_id string, quantity double, ts timestamp") \
            .parquet(str(src))
        out = reservations(stream, stock_for_key=lambda k: 100.0)
        name, q = run_to_memory(out, mode="update")
        try:
            got = {r["order_id"]: r["result"]
                   for r in spark.table(name).collect()}
        finally:
            q.stop()
    assert got == {"o1": "PASS", "o2": "PASS", "o3": "FAIL", "o4": "PASS",
                   **want_bolts}


def test_join_wait_immediate_and_buffered(spark, tmp_path):
    s_dir, t_dir = tmp_path / "s", tmp_path / "t"
    sch_s = "key string, value double, ts timestamp"
    sch_t = "key string, value long, ts timestamp"
    # batch 1: table value for k1 arrives; stream rows for k1 (joinable now)
    # and k2 (no table side yet -> buffered). Every record is inside the
    # 300 event-second wait, so nothing times out.
    spark.createDataFrame([("k1", 1.5, ts("2024-01-01 10:00:00")),
                           ("k2", 2.5, ts("2024-01-01 10:00:00"))], sch_s) \
         .coalesce(1).write.mode("append").parquet(str(s_dir))
    spark.createDataFrame([("k1", 10, ts("2024-01-01 10:00:00"))], sch_t) \
         .coalesce(1).write.mode("append").parquet(str(t_dir))
    s = spark.readStream.schema(sch_s).parquet(str(s_dir))
    t = spark.readStream.schema(sch_t).parquet(str(t_dir))
    name, q = run_to_memory(join_wait(s, t, wait_seconds=300), mode="update")
    try:
        assert {r["key"] for r in spark.table(name).collect()} == {"k1"}
        # batch 2: k2's table side arrives -> buffered row flushes with value
        spark.createDataFrame([("k2", 20, ts("2024-01-01 10:00:10"))], sch_t) \
             .coalesce(1).write.mode("append").parquet(str(t_dir))
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    got = {(r["key"], r["stream_value"]): r["table_value"] for r in rows}
    assert got[("k1", 1.5)] == 10
    assert got[("k2", 2.5)] == 20


def test_join_wait_multi_table_run_flushes_with_first_value(spark, tmp_path):
    # Regression (r4 advice): a micro-batch carrying 2+ consecutive table
    # records for a key with buffered stream records must flush the waiters
    # with the FIRST arriving table value of the run (per-row arrival
    # semantics), while later stream records see the LAST (latest) value.
    # Every record is inside the 300 event-second wait, so nothing times out.
    s_dir, t_dir = tmp_path / "s", tmp_path / "t"
    t_dir.mkdir()          # table side starts empty — but the dir must exist
    sch_s = "key string, value double, ts timestamp"
    sch_t = "key string, value long, ts timestamp"
    spark.createDataFrame([("k1", 1.0, ts("2024-01-01 10:00:00")),
                           ("k1", 2.0, ts("2024-01-01 10:00:00"))], sch_s) \
         .coalesce(1).write.mode("append").parquet(str(s_dir))
    s = spark.readStream.schema(sch_s).parquet(str(s_dir))
    t = spark.readStream.schema(sch_t).parquet(str(t_dir))
    # batch 1 buffers both stream rows (no table side yet)
    name, q = run_to_memory(join_wait(s, t, wait_seconds=300), mode="update")
    try:
        # batch 2: two table records for k1 in ONE file (one source
        # partition -> arrival order preserved): 10 then 20
        spark.createDataFrame([("k1", 10, ts("2024-01-01 10:00:10")),
                               ("k1", 20, ts("2024-01-01 10:00:20"))], sch_t) \
             .coalesce(1).write.mode("append").parquet(str(t_dir))
        q.processAllAvailable()
        # batch 3: a fresh stream record joins against the cached LAST value
        spark.createDataFrame([("k1", 3.0, ts("2024-01-01 10:00:30"))], sch_s) \
             .coalesce(1).write.mode("append").parquet(str(s_dir))
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    got = {r["stream_value"]: r["table_value"] for r in rows}
    assert got == {1.0: 10, 2.0: 10, 3.0: 20}


def test_join_wait_event_time_matrix(spark, tmp_path):
    """join_wait on event time (the reference transformer's punctuation
    clock — STREAM_TIME, CustomStreamTableJoinIntegrationTest.java:285-338):
    immediate join, buffered-then-matched, and timeout driven by the
    WATERMARK — a stalled wall clock still flushes when event time
    advances (wait is 60 EVENT-seconds; the test completes in wall
    seconds), and a record whose event-time deadline has not passed
    stays buffered no matter how long the wall clock runs."""
    s_dir, t_dir = tmp_path / "s", tmp_path / "t"
    sch_s = "key string, value double, ts timestamp"
    sch_t = "key string, value long, ts timestamp"
    # batch 1: table k1 + stream k1 (immediate) + stream k2 (buffered)
    spark.createDataFrame(
        [("k1", 1.5, ts("2024-01-01 10:00:00")),
         ("k2", 2.5, ts("2024-01-01 10:00:00"))], sch_s) \
        .coalesce(1).write.mode("append").parquet(str(s_dir))
    spark.createDataFrame(
        [("k1", 10, ts("2024-01-01 10:00:00"))], sch_t) \
        .coalesce(1).write.mode("append").parquet(str(t_dir))
    s = spark.readStream.schema(sch_s).parquet(str(s_dir))
    t = spark.readStream.schema(sch_t).parquet(str(t_dir))
    name, q = run_to_memory(join_wait(s, t, wait_seconds=60), mode="update")
    try:
        # batch 2: k2's table side arrives in event time -> matched flush
        spark.createDataFrame(
            [("k2", 20, ts("2024-01-01 10:00:30"))], sch_t) \
            .coalesce(1).write.mode("append").parquet(str(t_dir))
        q.processAllAvailable()
        # batch 3: stream k3 buffers at 10:01:00 (deadline 10:02:00)
        spark.createDataFrame(
            [("k3", 3.5, ts("2024-01-01 10:01:00"))], sch_s) \
            .coalesce(1).write.mode("append").parquet(str(s_dir))
        q.processAllAvailable()
        # batch 4: stream k4 at 10:03:00 advances the watermark past k3's
        # deadline -> k3 flushes UNMATCHED on event time alone (wall
        # elapsed here is ~seconds, not 60); k4 (deadline 10:04:00) must
        # stay buffered
        spark.createDataFrame(
            [("k4", 4.5, ts("2024-01-01 10:03:00"))], sch_s) \
            .coalesce(1).write.mode("append").parquet(str(s_dir))
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    got = {(r["key"], r["stream_value"]): r["table_value"] for r in rows}
    assert got[("k1", 1.5)] == 10       # immediate
    assert got[("k2", 2.5)] == 20       # buffered then matched
    assert got[("k3", 3.5)] is None     # watermark-driven timeout
    assert ("k4", 4.5) not in got       # deadline not reached: still waiting


def test_join_wait_event_time_late_record_is_dropped(spark, tmp_path):
    """A stream record older than the watermark never reaches the
    processor — Spark's late-event filter drops it before the stateful
    operator (the W7 grace contract; Kafka Streams likewise drops
    records past the grace period). Pinned so join_wait's
    late-data story is explicit: drop, not flush-unmatched."""
    s_dir, t_dir = tmp_path / "s", tmp_path / "t"
    t_dir.mkdir()
    sch_s = "key string, value double, ts timestamp"
    # batch 1 sets the watermark to 10:10:00
    spark.createDataFrame(
        [("w", 0.5, ts("2024-01-01 10:10:00"))], sch_s) \
        .coalesce(1).write.mode("append").parquet(str(s_dir))
    s = spark.readStream.schema(sch_s).parquet(str(s_dir))
    t = spark.readStream.schema(
        "key string, value long, ts timestamp").parquet(str(t_dir))
    name, q = run_to_memory(join_wait(s, t, wait_seconds=60), mode="update")
    try:
        assert sum(p["numInputRows"] for p in q.recentProgress) == 1
        # batch 2: a LATE record (09:00 << watermark 10:10) and a live
        # one advancing the watermark past w's deadline (10:11:00) so a
        # flush cycle provably ran after the late row was offered
        spark.createDataFrame(
            [("late", 9.5, ts("2024-01-01 09:00:00")),
             ("live", 1.5, ts("2024-01-01 10:20:00"))], sch_s) \
            .coalesce(1).write.mode("append").parquet(str(s_dir))
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    keys = {r["key"] for r in rows}
    assert "w" in keys          # watermark-driven flush cycle ran
    assert "late" not in keys   # the late row was dropped, not flushed


def test_ordered_concat_converges_from_shuffled_arrival(spark, sf_dir, tmp_path):
    # A3 streaming analog: pipe the events table in a RANDOMIZED order
    # split across 4 micro-batches; the per-key sequence must still
    # converge to the batch oracle's event-time-ordered concatenation.
    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.registry import QUERIES

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type")
    (ev.orderBy(F.hash("event_id"))          # deterministic disorder vs ts
       .repartition(4)
       .write.parquet(str(tmp_path / "shuffled")))
    schema = spark.read.parquet(str(tmp_path / "shuffled")).schema
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "shuffled")))
    name, q = run_to_memory(ordered_concat(stream), mode="update")
    try:
        rows = spark.table(name).collect()
    finally:
        q.stop()
    # sequences only grow (no lateness bound) -> the longest string per key
    # is the final state, independent of sink row order
    got: dict[int, str] = {}
    for r in rows:
        if len(r["type_seq"]) >= len(got.get(r["user_id"], "")):
            got[r["user_id"]] = r["type_seq"]
    want = {r["user_id"]: r["type_seq"]
            for r in QUERIES["reduce_concat"].spark(spark, sf_dir).collect()}
    assert got == want


def test_ordered_concat_lateness_policy(spark, tmp_path):
    # W7 analog: with lateness_seconds set, a record older than the key's
    # max event time minus the bound is dropped; in-bound stragglers are
    # still spliced into event-time position.
    # The cut is against the max over the key's WHOLE batch: user 8's 12
    # shuffled rows arrive in one micro-batch as 5-row Arrow chunks, and
    # an early chunk's own max must not decide what it keeps (seed 191
    # puts the four kept rows last, so no early chunk holds the max).
    src = tmp_path / "ev"
    user8 = [(100 + i, ts("2024-01-01 08:00:00") + timedelta(minutes=20 * i),
              8, f"e{i}") for i in range(12)]
    hi = max(r[1] for r in user8)
    want8 = " ".join(r[3] for r in sorted(user8, key=lambda r: (r[1], r[0]))
                     if r[1] >= hi - timedelta(hours=1))
    with arrow_chunks(spark):
        spark.createDataFrame(
            [(1, ts("2024-01-01 10:00:00"), 7, "a"),
             (2, ts("2024-01-01 10:30:00"), 7, "b")] + shuffled(user8, 191),
            "event_id long, ts timestamp, user_id long, event_type string") \
            .coalesce(1).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string") \
            .parquet(str(src))
        name, q = run_to_memory(ordered_concat(stream, lateness_seconds=3600),
                                mode="update")
        try:
            # straggler at 10:10 (within 1h of 10:30) -> spliced between a
            # and b; 08:00 (beyond the bound) -> dropped
            spark.createDataFrame(
                [(3, ts("2024-01-01 10:10:00"), 7, "c"),
                 (4, ts("2024-01-01 08:00:00"), 7, "x")],
                "event_id long, ts timestamp, user_id long, event_type string") \
                .coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            rows = spark.table(name).collect()
        finally:
            q.stop()
    final = max((r["type_seq"] for r in rows if r["user_id"] == 7), key=len)
    assert final == "a c b"
    assert [r["type_seq"] for r in rows if r["user_id"] == 8] == [want8]


def test_reservation_batch_invariants(spark, sf_dir):
    # registry inventory_reservation: reserved total per part never exceeds
    # stock, and a FAIL implies the line would have exceeded capacity
    from kafka_streams_examples_spark.registry import QUERIES
    from kafka_streams_examples_spark.catalog import table

    # the processor emits l_quantity so this needs no re-join: the natural
    # key (partkey, orderkey, linenumber) is NOT unique in the synthetic data
    out = QUERIES["inventory_reservation"].spark(spark, sf_dir)
    agg = (out.withColumn("stock", 100.0 + (F.col("l_partkey") % 50) * 10.0)
           .groupBy("l_partkey", "stock")
           .agg(F.sum(F.when(F.col("result") == "PASS", F.col("l_quantity"))
                       .otherwise(0.0)).alias("reserved")))
    # 1e-6 slack: the processor accumulates sequentially while this check
    # re-sums in arbitrary order, so exactly-at-capacity parts can differ
    # by float-associativity noise
    assert agg.filter(F.col("reserved") > F.col("stock") + 1e-6).count() == 0
    assert out.filter(F.col("result") == "FAIL").count() > 0


def fraud_reference(orders: list, limit: float = 1000.0,
                    gap_s: int = 1800) -> dict:
    """Plain-Python sequential fold per customer over (customer, order_id,
    value, ts) rows already in event-time order: order_id -> verdict."""
    state, want = {}, {}
    for cust, oid, v, t in orders:
        last, total = state.get(cust, (None, 0.0))
        new_session = last is not None and (t - last).total_seconds() > gap_s
        total = v if new_session else total + v
        state[cust] = (t, total)
        want[oid] = "FAIL" if total > limit else "PASS"
    return want


def test_fraud_check_session_semantics(spark, tmp_path):
    from kafka_streams_examples_spark.streaming.stateful import fraud_check

    src = tmp_path / "orders_in"
    schema = "customer string, order_id string, order_value double, ts timestamp"
    batch1 = [("c1", "o1", 600.0, ts("2024-01-01 10:00:00")),
              ("c1", "o2", 500.0, ts("2024-01-01 10:10:00")),   # 1100 > 1000 -> FAIL
              ("c2", "o3", 100.0, ts("2024-01-01 10:00:00"))]
    # 60 shuffled orders of c3 in batch 1, folded from 5-row Arrow chunks;
    # gaps of 5-45 min open new sessions along the way
    rng = random.Random(11)
    t, c3 = ts("2024-01-01 06:00:00"), []
    for i in range(60):
        t += timedelta(minutes=rng.choice([5, 10, 20, 45]))
        c3.append(("c3", f"x{i}", float(rng.randint(50, 400)), t))
    want_c3 = fraud_reference(c3)
    assert set(want_c3.values()) == {"PASS", "FAIL"}
    # 240 more customers, so each hash bucket folds several of them; each
    # one's orders are split between the two batches, and a session may
    # continue across the split or break there
    many1, many2 = [], []
    for c in range(240):
        t = ts("2024-01-01 08:00:00") + timedelta(minutes=rng.randint(0, 59))
        rows = []
        for i in range(rng.randint(1, 8)):
            t += timedelta(minutes=rng.choice([5, 10, 20, 45]))
            rows.append((f"m{c}", f"m{c}_{i}", float(rng.randint(50, 400)), t))
        cut = rng.randint(0, len(rows))
        many1 += rows[:cut]
        many2 += rows[cut:]
    want_many = fraud_reference(many1 + many2)
    assert set(want_many.values()) == {"PASS", "FAIL"}
    with arrow_chunks(spark):
        spark.createDataFrame(batch1 + shuffled(c3 + many1), schema) \
             .coalesce(1).write.mode("append").parquet(str(src))
        stream = spark.readStream.schema(schema).parquet(str(src))
        name, q = run_to_memory(fraud_check(stream, limit=1000.0),
                                mode="update")
        try:
            # batch 2: c1 again after a >30min gap -> new session, passes;
            # and a follow-up inside the same session that accumulates on
            # restored state
            batch2 = [("c1", "o4", 900.0, ts("2024-01-01 11:00:00")),
                      ("c1", "o5", 200.0, ts("2024-01-01 11:05:00"))]  # 1100 -> FAIL
            spark.createDataFrame(batch2 + shuffled(many2, seed=8), schema) \
                 .coalesce(1).write.mode("append").parquet(str(src))
            q.processAllAvailable()
            got = {r["order_id"]: r["verdict"]
                   for r in spark.table(name).collect()}
            state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        finally:
            q.stop()
    assert got == {"o1": "PASS", "o2": "FAIL", "o3": "PASS",
                   "o4": "PASS", "o5": "FAIL", **want_c3, **want_many}
    # one state row per hash bucket, not one per customer (243 here)
    assert state_rows <= 32


def test_fraud_check_recovers_from_checkpoint(spark, tmp_path):
    """Stop the query after batch 1 and restart it on the same checkpoint:
    a session that continues across the restart carries its total, and a
    customer missing from batch 2 keeps their state until batch 3, though
    batch 2 rewrites the state of the hash bucket they share with c1."""
    from kafka_streams_examples_spark.state import bucket_expr
    from kafka_streams_examples_spark.streaming.stateful import fraud_check

    src, ckpt = tmp_path / "orders", tmp_path / "ckpt"
    schema = "customer string, order_id string, order_value double, ts timestamp"
    bucket = dict(spark.createDataFrame([(f"c{i}",) for i in range(1, 300)],
                                        "customer string")
                  .select("customer", bucket_expr(["customer"]))
                  .collect())
    mate = next(c for c, b in bucket.items() if c != "c1" and b == bucket["c1"])

    def run(rows: list) -> dict:
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("append").parquet(str(src))
        sink: list = []
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (fraud_check(stream, limit=1000.0)
             .writeStream.outputMode("update")
             .option("checkpointLocation", str(ckpt))
             .foreachBatch(lambda df, _id: sink.extend(df.collect()))
             .start())
        q.processAllAvailable()
        q.stop()
        return {r["order_id"]: r["verdict"] for r in sink}

    assert run([("c1", "o1", 600.0, ts("2024-01-01 10:00:00")),
                (mate, "o2", 700.0, ts("2024-01-01 10:00:00"))]) == \
        {"o1": "PASS", "o2": "PASS"}
    # c1's session continues across the restart: 600 + 500 > 1000
    assert run([("c1", "o3", 500.0, ts("2024-01-01 10:20:00"))]) == \
        {"o3": "FAIL"}
    # the mate was absent from batch 2 and still carries 700 (+400 > 1000);
    # c1's order after a >30 min gap opens a new session
    assert run([(mate, "o4", 400.0, ts("2024-01-01 10:25:00")),
                ("c1", "o5", 100.0, ts("2024-01-01 11:00:00"))]) == \
        {"o4": "FAIL", "o5": "PASS"}


def test_ordered_concat_recovers_from_checkpoint(spark, tmp_path):
    # §2.8 recovery for the applyInPandasWithState path: kill the query,
    # deliver more (earlier-timestamped!) data, restart from the SAME
    # checkpoint — state reloads and the late record still splices into
    # event-time position. foreachBatch sink (memory sinks don't support
    # checkpoint recovery); each incarnation appends to its own list.
    src, ckpt = tmp_path / "ev", tmp_path / "ckpt"
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), 7, "a"),
         (2, ts("2024-01-01 10:20:00"), 7, "c")], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))

    def start(sink: list):
        stream = spark.readStream.schema(schema).parquet(str(src))
        return (ordered_concat(stream)
                .writeStream.outputMode("update")
                .option("checkpointLocation", str(ckpt))
                .foreachBatch(lambda df, _id: sink.extend(df.collect()))
                .start())

    run1: list = []
    q = start(run1)
    q.processAllAvailable()
    q.stop()
    assert [r["type_seq"] for r in run1] == ["a c"]
    spark.createDataFrame([(3, ts("2024-01-01 10:10:00"), 7, "b")], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    run2: list = []
    q = start(run2)
    q.processAllAvailable()
    q.stop()
    # run 2 reprocesses only the late record; its output must already
    # carry the recovered prefix with 'b' spliced between 'a' and 'c'
    assert [r["type_seq"] for r in run2] == ["a b c"]


def test_pack_sequences_stream_matches_batch_per_source(spark, sf_dir, tmp_path):
    """Streaming per-source packing over an in-id-order 3-batch replay
    must equal the batch packing applied per source: state (the running
    token offset) has to survive micro-batch boundaries, including
    documents whose spans straddle a batch edge. Rows are shuffled
    within each batch and reach the fold in 5-row Arrow chunks, so the
    id order must come from one sort over the whole batch."""
    import glob
    import shutil
    import time

    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.streaming.stateful import (
        pack_sequences_stream,
    )

    B = 64
    ntok = F.size(F.filter(F.split(F.lower("text"), r"\s+"),
                           lambda x: x != "")).cast("long")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", ntok.alias("n_tokens"))
    src = tmp_path / "stream"
    src.mkdir()
    bounds = [(0, 170), (170, 340), (340, 1 << 60)]
    for i, (lo, hi) in enumerate(bounds):
        part = (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .orderBy(F.hash("doc_id")))
        tmp = tmp_path / f"w{i}"
        part.coalesce(1).write.parquet(str(tmp))
        shutil.copy(glob.glob(str(tmp / "part-*.parquet"))[0],
                    str(src / f"{i:04d}.parquet"))
        time.sleep(1.1)  # distinct mod times -> deterministic batch order

    with arrow_chunks(spark):
        stream = (spark.readStream
                  .schema("doc_id long, source string, n_tokens long")
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        name, q = run_to_memory(pack_sequences_stream(stream, budget=B),
                                mode="append")
        try:
            got = {(r["source"], r["doc_id"], r["seq_id"], r["seq_off"],
                    r["tok_from"], r["tok_to"])
                   for r in spark.table(name).collect()}
        finally:
            q.stop()

    want = set()
    rows = docs.collect()
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append((r["doc_id"], r["n_tokens"]))
    for s, members in per_src.items():
        off = 0
        for did, n in sorted(members):
            if n <= 0:
                continue
            for j in range(off // B, (off + n - 1) // B + 1):
                lo_ = max(off, j * B)
                hi_ = min(off + n, (j + 1) * B)
                want.add((s, did, j, lo_ - j * B, lo_ - off, hi_ - off))
            off += n
    assert got == want
    # cross-batch continuity actually exercised: some source's tape must
    # straddle a batch boundary mid-sequence
    assert any(r[3] != 0 and r[4] == 0 for r in got)  # doc starts mid-seq
