"""REST interactive-query layer (SURVEY §2.7): the reference's endpoint
shapes served over the StateStore surface, including the Q7 long-poll
read-your-writes GET (OrdersService.java:148-187)."""

from __future__ import annotations

import json
import threading
import time
import urllib.request

import pytest

from kafka_streams_examples_spark.rest import InteractiveQueryService
from kafka_streams_examples_spark.serving import StateStore


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, json.loads(r.read())


@pytest.fixture()
def service(spark):
    counts = spark.createDataFrame(
        [("alpha", 3), ("beta", 1), ("kafka", 5)], "word string, cnt long")
    svc = InteractiveQueryService(poll_interval=0.05)
    svc.register("word-count", StateStore(counts, "word"))
    svc.start()
    yield svc
    svc.stop()


def test_rest_point_scan_range(service):
    port = service.port
    status, rows = _get(port, "/state/keyvalue/word-count/kafka")   # Q1
    assert status == 200 and rows == [{"word": "kafka", "cnt": 5}]

    _, rows = _get(port, "/state/keyvalues/word-count/all")         # Q2
    assert {r["word"]: r["cnt"] for r in rows} == \
        {"alpha": 3, "beta": 1, "kafka": 5}

    _, rows = _get(port, "/state/keyvalues/word-count/range/a/c")   # Q3
    assert sorted(r["word"] for r in rows) == ["alpha", "beta"]


def test_rest_missing_store_and_key(service):
    """Unknown stores and malformed input are the caller's error (404 for
    a path too short for its route, 400 for a non-integer timeout), never
    a 500 carrying the handler's exception text."""
    port = service.port
    for path, code in [("/state/keyvalue/nope/k", 404),
                       ("/state/keyvalue/word-count", 404),
                       ("/state/keyvalues/word-count/range/a", 404),
                       ("/state", 404),
                       ("/orders/word-count", 404),
                       ("/orders/word-count/kafka?timeout=abc", 400)]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(port, path)
        assert ei.value.code == code, path
    status, rows = _get(port, "/state/keyvalue/word-count/nothere")
    assert status == 200 and rows == []


def test_rest_handler_error_is_logged_with_route(service, caplog):
    """A store that raises gives the caller a 500 and leaves a server-side
    log record naming the route and the path, with the traceback."""
    class Broken:
        def get(self, key):
            raise RuntimeError("disk gone")

    service.register("broken", Broken())
    with caplog.at_level("ERROR", logger="kafka_streams_examples_spark.rest"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(service.port, "/state/keyvalue/broken/k1")
    assert ei.value.code == 500
    [rec] = [r for r in caplog.records
             if r.name == "kafka_streams_examples_spark.rest"]
    assert "state/keyvalue" in rec.getMessage()
    assert "/state/keyvalue/broken/k1" in rec.getMessage()
    assert rec.exc_info and "disk gone" in str(rec.exc_info[1])


def test_rest_long_poll_read_your_writes(service, spark):
    """Q7: a GET for a not-yet-materialized key blocks until the store
    catches up (the streaming upsert swap), then returns it — the
    reference's outstanding-requests contract, minus the cluster hop."""
    port = service.port
    result = {}

    def poll():
        result["resp"] = _get(
            port, "/orders/word-count/omega?timeout=5000")

    t = threading.Thread(target=poll)
    t.start()
    # simulate the KTableMaterializer upsert landing mid-poll
    updated = spark.createDataFrame(
        [("alpha", 3), ("omega", 9)], "word string, cnt long")
    service.register("word-count", StateStore(updated, "word"))
    t.join(timeout=30)
    assert not t.is_alive()
    status, rows = result["resp"]
    assert status == 200 and rows == [{"word": "omega", "cnt": 9}]


def test_rest_long_poll_timeout(service):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(service.port, "/orders/word-count/never?timeout=300")
    assert ei.value.code == 404


def test_rest_long_poll_unknown_store_answers_at_once(service):
    """A long-poll on a store that is not registered is the caller's
    error, answered at once like the state routes, not after the
    timeout."""
    t0 = time.time()
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(service.port, "/orders/nope/k?timeout=5000")
    assert time.time() - t0 < 1.0
    assert ei.value.code == 404
    assert json.loads(ei.value.read()) == {"error": "no such store"}


def test_rest_search_over_persisted_bm25_index(spark, tmp_path):
    """The retrieval-family interactive query: GET /search/{index}/{q}
    serves top-k doc ids + scores straight from the persisted BM25
    index via the same joins the batch contract uses."""
    from kafka_streams_examples_spark.operators.retrieval import (
        build_bm25_index,
    )
    from kafka_streams_examples_spark.rest import InteractiveQueryService
    from kafka_streams_examples_spark.serving import SearchIndex

    docs = spark.createDataFrame(
        [(0, "spark shuffle join spark"),
         (1, "join window agg"),
         (2, "spark spark spark filter"),
         (3, "window window shuffle agg filter")],
        ["doc_id", "text"])
    build_bm25_index(docs, str(tmp_path / "idx"))
    svc = InteractiveQueryService().start()
    try:
        svc.register("docs", SearchIndex(spark, str(tmp_path / "idx")))
        status, rows = _get(svc.port, "/search/docs/spark%20shuffle?k=2")
        assert status == 200 and len(rows) == 2
        assert rows[0]["rnk"] == 1
        # the spark-heavy docs outrank the sparkless ones
        assert rows[0]["c_id"] in (0, 2)
        # unknown index -> 404
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(svc.port, "/search/nope/spark")
        assert ei.value.code == 404
    finally:
        svc.stop()


@pytest.fixture()
def bigint_service(spark, tmp_path):
    """A bigint-keyed windowed table served twice: as a DiskStateStore
    over the bucketed layout and as a plain StateStore."""
    from kafka_streams_examples_spark.serving import DiskStateStore

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 3), (1, "2024-01-01 01:00:00", 4),
         (2, "2024-01-01 00:00:00", 5)],
        "user_id long, window_start string, n long").selectExpr(
            "user_id", "CAST(window_start AS TIMESTAMP) AS window_start", "n")
    disk = DiskStateStore.materialize(df, str(tmp_path / "win"), "user_id")
    svc = InteractiveQueryService()
    svc.register("disk", disk)
    svc.register("mem", StateStore(df, "user_id"))
    svc.start()
    yield svc
    svc.stop()


def test_rest_range_bounds_that_do_not_cast_match_nothing(bigint_service):
    """Range bounds that do not cast to the bigint key (``a``, ``z``)
    match nothing, as an absent point key does: 200 with [], not a 500
    from an ANSI cast failure."""
    port = bigint_service.port
    for store in ("disk", "mem"):
        assert _get(port, f"/state/keyvalues/{store}/range/a/z") == (200, [])
        assert _get(port, f"/state/keyvalue/{store}/abc") == (200, [])
        status, rows = _get(port, f"/state/keyvalues/{store}/range/0/1")
        assert status == 200 and {r["n"] for r in rows} == {3, 4}, store


def test_rest_windowed_fetch(bigint_service):
    """Q4, GET /state/windowed/{store}/{key}/{from}/{to}: the key's
    windows starting within [from, to]; bounds that do not parse as a
    timestamp match nothing (200 with [])."""
    port = bigint_service.port
    for store in ("disk", "mem"):
        status, rows = _get(
            port, f"/state/windowed/{store}/1/2024-01-01T00:30:00/2024-01-02")
        assert status == 200 and rows == [
            {"user_id": 1, "window_start": "2024-01-01 01:00:00", "n": 4}]
        assert _get(port, f"/state/windowed/{store}/1/x/y") == (200, [])
        assert _get(port, f"/state/windowed/{store}/a/2024-01-01/2024-01-02") \
            == (200, [])


def test_fetch_sessions_hit_and_uncastable_key(bigint_service):
    """Q5 ``fetch_sessions`` returns every row of the key, and nothing
    for a key that does not cast to the bigint key column."""
    for store in bigint_service.stores.values():
        assert sorted(r["n"] for r in store.fetch_sessions(1).collect()) \
            == [3, 4]
        assert store.fetch_sessions("a").collect() == []
