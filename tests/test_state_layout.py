"""Bucketed state layout (state.py): partial upsert touches only the
buckets a batch's keys hash into, and point lookups prune to one bucket
directory — the two 100TB-scale properties VERDICT r1 flagged on the flat
layout (full-state rewrite per batch; full-scan get)."""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import re
import urllib.request
from datetime import datetime

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_streams_examples_spark.serving import DiskStateStore
from kafka_streams_examples_spark.state import BUCKET_COL, bucket_of
from kafka_streams_examples_spark.streaming.ktable import KTableMaterializer


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _bucket_digests(path: str) -> dict[str, str]:
    """bucket dir -> digest over its parquet file names + bytes."""
    out = {}
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(f"{BUCKET_COL}="):
            continue
        h = hashlib.sha256()
        d = os.path.join(path, entry)
        for fn in sorted(os.listdir(d)):
            if fn.startswith(("_", ".")):
                continue
            h.update(fn.encode())
            with open(os.path.join(d, fn), "rb") as f:
                h.update(f.read())
        out[entry] = h.hexdigest()
    return out


def test_partial_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """A micro-batch updating ONE key must leave every other bucket's files
    byte-identical — the partial-upsert contract."""
    src, state = tmp_path / "src", tmp_path / "state"
    schema = "user string, region string, ts timestamp"
    rows1 = [(f"u{i}", "old", ts("2024-01-01 10:00:00")) for i in range(64)]
    spark.createDataFrame(rows1, schema).coalesce(1) \
         .write.mode("append").parquet(str(src))
    mat = KTableMaterializer(spark, str(state), ["user"], "ts")
    store = DiskStateStore(spark, str(state), "user")
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream.writeStream.outputMode("append").foreachBatch(mat).start()
    q.processAllAvailable()
    before = _bucket_digests(str(state))
    assert len(before) > 1, "64 keys over 32 buckets must span several dirs"

    # batch 2: one key moves
    spark.createDataFrame([("u7", "new", ts("2024-01-01 11:00:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()

    after = _bucket_digests(str(state))
    touched = f"{BUCKET_COL}={bucket_of(spark, ['u7'])}"
    assert after[touched] != before[touched]
    for b in before:
        if b != touched:
            assert after[b] == before[b], f"untouched bucket {b} was rewritten"

    got = {r["user"]: r["region"] for r in store.all().collect()}
    assert got["u7"] == "new"
    assert all(v == "old" for k, v in got.items() if k != "u7")
    assert len(got) == 64


def test_tombstone_deletes_key_in_its_bucket_only(spark, tmp_path):
    src, state = tmp_path / "src", tmp_path / "state"
    schema = "user string, region string, ts timestamp"
    rows = [(f"u{i}", "x", ts("2024-01-01 10:00:00")) for i in range(16)]
    spark.createDataFrame(rows, schema).coalesce(1) \
         .write.mode("append").parquet(str(src))
    mat = KTableMaterializer(spark, str(state), ["user"], "ts",
                             tombstone_col="region")
    store = DiskStateStore(spark, str(state), "user")
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream.writeStream.outputMode("append").foreachBatch(mat).start()
    q.processAllAvailable()
    before = _bucket_digests(str(state))
    # tombstone u3 (null region = delete)
    spark.createDataFrame([("u3", None, ts("2024-01-01 11:00:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    after = _bucket_digests(str(state))
    touched = f"{BUCKET_COL}={bucket_of(spark, ['u3'])}"
    users = {r["user"] for r in store.all().collect()}
    assert "u3" not in users and len(users) == 15
    for b in before:
        if b != touched:
            assert after.get(b) == before[b]

    # one batch on existing state, ranked together with it: u5 has an older
    # tombstone and a newer value (survives with the value), u6 an older
    # value and a newer tombstone (deleted)
    spark.createDataFrame(
        [("u5", None, ts("2024-01-01 12:00:00")),
         ("u5", "new", ts("2024-01-01 12:05:00")),
         ("u6", "new", ts("2024-01-01 12:00:00")),
         ("u6", None, ts("2024-01-01 12:05:00"))], schema) \
         .coalesce(1).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()
    got = {r["user"]: r["region"] for r in store.all().collect()}
    assert got["u5"] == "new"
    assert "u6" not in got and "u3" not in got and len(got) == 14
    assert store.get("u5")[0]["region"] == "new" and store.get("u6") == []


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _has_literal_bucket_filter(plan: str) -> bool:
    part = plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    return re.search(rf"\({BUCKET_COL}#\d+ = \d+\)", part) is not None


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path, sf_dir):
    """Q1 get(key), and its Spark form ``_pruned`` (taken for the keys and
    types the Python hash does not cover): the scan must carry a
    PartitionFilter on the bucket column holding a literal bucket id
    (reads 1 of N_BUCKETS dirs, with no job to compute the bucket) and a
    PushedFilter on the key (row-group pruning inside the bucket — files
    are key-sorted)."""
    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.rest import InteractiveQueryService

    counts = (table(spark, sf_dir, "events")
              .groupBy("user_id").agg(F.count("*").alias("n")))
    store = DiskStateStore.materialize(counts, str(tmp_path / "st"),
                                       "user_id")
    key = counts.first()["user_id"]
    want = counts.filter(F.col("user_id") == key).first()["n"]
    got = store.get(key)
    assert len(got) == 1 and got[0]["n"] == want

    plan = _explain_str(store._pruned(key))
    assert _has_literal_bucket_filter(plan), plan
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "user_id" in pushed

    # pruning is real: the layout has many bucket dirs, the filter one
    dirs = [e for e in os.listdir(tmp_path / "st") if e.startswith(BUCKET_COL)]
    assert len(dirs) > 1

    # a bigint key (the music_charts song_id shape): a Python int and a
    # REST path string must both hash as the column's type, not their own
    songs = spark.range(50).select(F.col("id").alias("song_id"),
                                   (F.col("id") * 10).alias("plays"))
    big = DiskStateStore.materialize(songs, str(tmp_path / "big"), "song_id")
    for k in range(50):
        assert [r["plays"] for r in big.get(k)] == [10 * k], k
    assert _has_literal_bucket_filter(_explain_str(big._pruned("7")))

    svc = InteractiveQueryService().start()
    try:
        svc.register("big", big)
        url = f"http://127.0.0.1:{svc.port}/state/keyvalue/big/"
        for k in range(50):
            with urllib.request.urlopen(url + str(k)) as r:
                assert [row["plays"] for row in json.loads(r.read())] == \
                    [10 * k], k
        # absent and non-numeric keys both answer 200 []
        for k in ("50", "abc"):
            with urllib.request.urlopen(url + k) as r:
                assert r.status == 200 and json.loads(r.read()) == [], k
    finally:
        svc.stop()


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """§2.8 exactly-once: foreachBatch may redeliver a batch after
    checkpoint recovery — applying the SAME batch twice must leave the
    LOGICAL state unchanged (the upsert is deterministic in
    (key, ts, tiebreak); rewritten parquet files carry fresh write UUIDs,
    so the contract is row identity, not byte identity)."""
    state = tmp_path / "state"
    mat = KTableMaterializer(spark, str(state), ["user"], "ts")
    store = DiskStateStore(spark, str(state), "user")
    batch = spark.createDataFrame(
        [("u1", "a", ts("2024-01-01 10:00:00")),
         ("u2", "b", ts("2024-01-01 10:00:00"))],
        "user string, region string, ts timestamp")
    mat(batch, 0)
    first = sorted(map(tuple, store.all().collect()))
    mat(batch, 0)   # redelivery of the same epoch
    assert sorted(map(tuple, store.all().collect())) == first
    got = {r["user"]: r["region"] for r in store.all().collect()}
    assert got == {"u1": "a", "u2": "b"}


def test_materialize_and_streaming_upsert_share_layout(spark, tmp_path):
    """DiskStateStore.materialize and KTableMaterializer must agree on the
    bucket layout: a store bootstrapped via materialize() can be maintained
    incrementally by the streaming upsert at the same path. The store is
    built BEFORE the upsert, and every one of its queries (and the REST
    routes over it) must read the layout as it is after the swap, not
    the file listing of construction time."""
    from kafka_streams_examples_spark.rest import InteractiveQueryService

    path = str(tmp_path / "st")
    base = spark.createDataFrame(
        [(i, f"v{i}", ts("2024-01-01 10:00:00")) for i in range(20)],
        "k long, v string, ts timestamp")
    store = DiskStateStore.materialize(base, path, "k")
    assert store.get(3)[0]["v"] == "v3"
    mat = KTableMaterializer(spark, path, ["k"], "ts")
    upd = spark.createDataFrame([(3, "NEW", ts("2024-01-01 11:00:00"))],
                                "k long, v string, ts timestamp")
    mat(upd, 1)
    got = {r["k"]: r["v"] for r in store.all().collect()}
    assert got[3] == "NEW" and len(got) == 20
    assert all(v == f"v{k}" for k, v in got.items() if k != 3)
    assert {r["k"]: r["v"] for r in store.range(2, 4).collect()} == \
        {2: "v2", 3: "NEW", 4: "v4"}
    assert store.get(3)[0]["v"] == "NEW"

    svc = InteractiveQueryService().start()
    try:
        svc.register("kv", store)
        url = f"http://127.0.0.1:{svc.port}/state/keyvalues/kv"
        with urllib.request.urlopen(url + "/all") as r:
            rows = json.loads(r.read())
        assert {row["k"]: row["v"] for row in rows} == got
        with urllib.request.urlopen(url + "/range/2/4") as r:
            rows = json.loads(r.read())
        assert {row["k"]: row["v"] for row in rows} == \
            {2: "v2", 3: "NEW", 4: "v4"}
    finally:
        svc.stop()


def test_composite_key_upsert_and_lookup(spark, tmp_path):
    """Multi-column keys: the bucket fn hashes all key columns, and the
    upsert keeps one row per full composite key."""
    state = tmp_path / "state"
    mat = KTableMaterializer(spark, str(state), ["region", "user"], "ts")
    store = DiskStateStore(spark, str(state), "user")
    b1 = spark.createDataFrame(
        [("eu", "u1", 1.0, ts("2024-01-01 10:00:00")),
         ("us", "u1", 2.0, ts("2024-01-01 10:00:00")),
         ("eu", "u2", 3.0, ts("2024-01-01 10:00:00"))],
        "region string, user string, v double, ts timestamp")
    mat(b1, 0)
    b2 = spark.createDataFrame(
        [("eu", "u1", 9.0, ts("2024-01-01 11:00:00"))],
        "region string, user string, v double, ts timestamp")
    mat(b2, 1)
    # same user, different region -> independent rows
    got = {(r["region"], r["user"]): r["v"] for r in store.all().collect()}
    assert got == {("eu", "u1"): 9.0, ("us", "u1"): 2.0, ("eu", "u2"): 3.0}
    # a lookup on one column of the composite key finds the rows of every
    # bucket it is in, not only those of hash(user)'s bucket
    assert sorted((r["region"], r["v"]) for r in store.get("u1")) == \
        [("eu", 9.0), ("us", 2.0)]
    assert [r["region"] for r in store.get("u2")] == ["eu"]


def test_disk_store_range_and_all(spark, tmp_path, sf_dir):
    from kafka_streams_examples_spark.catalog import table

    counts = (table(spark, sf_dir, "events")
              .groupBy("user_id").agg(F.count("*").alias("n")))
    store = DiskStateStore.materialize(counts, str(tmp_path / "st2"),
                                       "user_id")
    assert store.all().count() == counts.count()
    lo, hi = 10, 50
    want = counts.filter(F.col("user_id").between(lo, hi)).count()
    assert store.range(lo, hi).count() == want


#: key forms whose try_cast is not a plain Python cast, so get() takes Spark
ODD_KEYS = ["7_000", "\uff11", " 7", "7.0", "+7", "-0", "abc", "", None,
            str(2**63), "0" * 5000 + "7", True, 7.0]


def test_point_lookup_equals_spark_lookup(spark, tmp_path):
    """get(k) is _pruned(k).collect() for every key form and store kind:
    hits, misses, keys whose bucket directory tombstones removed, and key
    forms only Spark casts; a layout without its recorded bucket key, a
    store with a timestamp column (read only through Spark) and a path
    with no state yet."""
    keyed = str(tmp_path / "kv")
    mat = KTableMaterializer(spark, keyed, ["k"], ts_col="seq",
                             tombstone_col="v")
    schema = "k string, v double, n int, ok boolean, seq long"
    mat(spark.createDataFrame(
        [(f"k{i}", i / 2, i, i % 2 == 0, 0) for i in range(40)]
        + [(s, 1.0, 1, True, 0) for s in ("", "7", "日本", "😀")], schema), 0)
    by_bucket: dict[int, list[str]] = {}
    for i in range(40):
        by_bucket.setdefault(bucket_of(spark, [f"k{i}"]), []).append(f"k{i}")
    gone_bucket, gone = next(iter(by_bucket.items()))
    mat(spark.createDataFrame([(k, None, 0, True, 1) for k in gone],
                              schema), 1)
    assert not os.path.exists(os.path.join(keyed, f"{BUCKET_COL}={gone_bucket}"))
    kv = DiskStateStore(spark, keyed, "k")

    songs = spark.range(50).select(F.col("id").alias("song_id"),
                                   (F.col("id") * 10).alias("plays"))
    big = DiskStateStore.materialize(songs, str(tmp_path / "big"), "song_id")
    small = DiskStateStore.materialize(
        songs.select(F.col("song_id").cast("int").alias("id"),
                     F.col("song_id").cast("tinyint").alias("b")),
        str(tmp_path / "int"), "id")
    # a layout written before the bucket key was recorded reads as keyed
    # on the store's key column
    os.remove(tmp_path / "int" / "_keys")
    at = DiskStateStore.materialize(
        spark.createDataFrame([(f"k{i}", ts("2024-01-01 10:00:00"))
                               for i in range(10)], "k string, at timestamp"),
        str(tmp_path / "at"), "k")

    cases = [(kv, k) for k in ["k1", "k39", "zz", "7", "", "日本", "😀", 7,
                               *gone, *ODD_KEYS]]
    cases += [(st, k) for st in (big, small)
              for k in [0, 7, 49, 50, -1, "7", "0049", "-1", 2**31, -2**63,
                        2**63 - 1, str(-2**63), *ODD_KEYS]]
    cases += [(at, k) for k in ["k3", "zz", 3]]
    for store, k in cases:
        want = store._pruned(k).collect()
        assert store.get(k) == want, (store.path, k)
        assert [r.asDict() for r in store.get(k)] == \
            [r.asDict() for r in want], (store.path, k)
    assert kv.get("k1") == [Row(k="k1", v=0.5, n=1, ok=False, seq=0)]
    assert big.get("7") == [Row(song_id=7, plays=70)]
    assert small.get("-0") == [Row(id=0, b=0)]

    empty = DiskStateStore(spark, str(tmp_path / "none"), "k")
    for k in ("k1", 7):
        with pytest.raises(AnalysisException):
            empty._pruned(k).collect()
        with pytest.raises(AnalysisException):
            empty.get(k)


def test_point_lookup_runs_no_spark_job(spark, tmp_path):
    """A string-key and a bigint-key get() read their bucket without Spark:
    no job runs under the lookup's job group."""
    users = DiskStateStore.materialize(
        spark.createDataFrame([(f"u{i}", i) for i in range(20)],
                              "user string, n long"),
        str(tmp_path / "users"), "user")
    songs = DiskStateStore.materialize(
        spark.range(20).select(F.col("id").alias("song_id"),
                               (F.col("id") * 10).alias("plays")),
        str(tmp_path / "songs"), "song_id")
    sc = spark.sparkContext
    sc.setJobGroup("lookup", "point lookups")
    try:
        got = [users.get("u3"), users.get("nope"), songs.get(7),
               songs.get("12")]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("lookup") == []
    assert got == [[Row(user="u3", n=3)], [], [Row(song_id=7, plays=70)],
                   [Row(song_id=12, plays=120)]]


def test_layout_calls_go_through_module_globals(spark, tmp_path, monkeypatch):
    """The traced benchmark wraps ``write_buckets``, ``swap_buckets`` and
    ``bucket_of`` by name in ``serving`` and ``streaming.ktable``: the
    store and the materializer must call the first two through those
    module globals, and both modules must keep ``bucket_of``."""
    from kafka_streams_examples_spark import serving
    from kafka_streams_examples_spark.streaming import ktable

    fired = []

    def recorder(name, real):
        def rec(*args, **kwargs):
            fired.append(name)
            return real(*args, **kwargs)
        return rec

    for mod in (serving, ktable):
        assert callable(getattr(mod, "bucket_of"))
        for fn in ("write_buckets", "swap_buckets"):
            monkeypatch.setattr(mod, fn,
                                recorder(f"{mod.__name__}.{fn}",
                                         getattr(mod, fn)))
    path = str(tmp_path / "st")
    schema = "k string, v string, ts timestamp"
    store = DiskStateStore.materialize(
        spark.createDataFrame([("a", "old", ts("2024-01-01 10:00:00"))],
                              schema), path, "k")
    KTableMaterializer(spark, path, ["k"], "ts")(
        spark.createDataFrame([("a", "new", ts("2024-01-01 11:00:00"))],
                              schema), 0)
    assert sorted(fired) == sorted(
        f"{mod.__name__}.{fn}" for mod in (serving, ktable)
        for fn in ("write_buckets", "swap_buckets"))
    assert store.get("a")[0]["v"] == "new"
