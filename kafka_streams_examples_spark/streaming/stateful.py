"""Custom stateful streaming processors (SURVEY §2.6) via
applyInPandasWithState — Arrow-batched, partitioned by key, state in the
Spark state store (RocksDB provider at scale).

T1 running_counts   — StateStoresInTheDSLIntegrationTest.java:66-161
T3 reservations     — InventoryService.java:107-169 (read-modify-write)
J8/T5 join_wait     — CustomStreamTableJoinIntegrationTest.java:285-338
W4 fraud_check      — FraudService.java:78-130 (session spend)

Each processor is sequential WITHIN a key and parallel ACROSS keys —
exactly the per-partition ordering guarantee Kafka Streams tasks give.
Most group by the key itself and keep O(1) state per key (a counter /
reservation level / small buffer), so state-store size grows with key
cardinality only, not event volume. fraud_check groups by a hash bucket
of the key instead (``state.bucket_expr``, ``state.N_BUCKETS`` buckets),
because each group costs a Python call: a bucket's state row holds O(1)
per customer in parallel arrays, the same total in N_BUCKETS rows.
ordered_concat keeps O(events) per key.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..state import BUCKET_COL, bucket_expr


def _in_order(pdfs: Iterable[pd.DataFrame], by: list[str]) -> pd.DataFrame:
    """All of a key's rows in this micro-batch, stably sorted on ``by``.

    Arrow hands a key's rows over in chunks of at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch``; an order-dependent
    fold must sort across every chunk, never within each, or its output
    depends on how the rows were chunked. One chunk (the default case) is
    sorted as is, without a concat."""
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return pdf.sort_values(by, kind="stable")


def running_counts(events: DataFrame, key_col: str = "word") -> DataFrame:
    """T1: ever-incrementing per-key count, one output row per batch+key
    (update-mode conflation — the reference emits per record with cache
    off; per micro-batch is the Spark-native conflation contract)."""
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("count", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("count", T.LongType())])

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "count": [total]})

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    GroupStateTimeout.NoTimeout))


def reservations(orders: DataFrame, stock_for_key, key_col: str = "product",
                 qty_col: str = "quantity", ts_col: str = "ts") -> DataFrame:
    """T3: reserve stock per product; PASS while reserved+qty <= stock.

    stock_for_key: python fn key -> float (warehouse level); in production a
    broadcast dimension joined upstream.
    """
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("order_id", T.StringType()),
        T.StructField("result", T.StringType()),
    ])
    state_schema = T.StructType([T.StructField("reserved", T.DoubleType())])

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        reserved = state.get[0] if state.exists else 0.0
        stock = float(stock_for_key(key[0]))
        pdf = _in_order(pdfs, [ts_col])
        results = []
        # conditional accumulation (reserved grows only on PASS) is a
        # true sequential recurrence — no cumsum form — so the loop
        # stays, but over a raw numpy array, not pandas rows
        for qty in pdf[qty_col].to_numpy(dtype=float):
            if reserved + qty <= stock:
                reserved += qty
                results.append("PASS")
            else:
                results.append("FAIL")
        state.update((reserved,))
        yield pd.DataFrame({key_col: pdf[key_col], "order_id": pdf["order_id"],
                            "result": results})

    return (orders.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    GroupStateTimeout.NoTimeout))


def join_wait(stream: DataFrame, tbl: DataFrame, key_col: str = "key",
              wait_seconds: int = 60, time_mode: str = "processing",
              ts_col: str = "ts",
              watermark_delay: str = "0 seconds") -> DataFrame:
    """J8: stream-table join with table-side wait.

    Semantics (CustomStreamTableJoinIntegrationTest.java:60-131): each
    stream record produces EXACTLY ONE output; if a table-side value for
    the key is known, emit (v, t) immediately; otherwise buffer the stream
    record up to wait_seconds hoping the table side arrives, then emit
    (v, null).

    Two timeout clocks, selected by ``time_mode``:

    - ``"processing"``: the wait is wall-clock from enqueue (the
      reference test's observed behavior under live brokers).
    - ``"event"``: the wait is measured against the WATERMARK — the
      reference transformer's actual punctuation clock
      (CustomStreamTableJoinIntegrationTest.java:285-338 punctuates on
      PunctuationType.STREAM_TIME, i.e. max observed event time, NOT
      wall clock). Both inputs must carry ``ts_col``; a buffered record
      flushes unmatched once watermark >= its event time +
      wait_seconds, so a stalled wall clock still flushes when event
      time advances, and a stalled STREAM never times anything out —
      exactly Kafka Streams stream-time semantics. Records older than
      the watermark never reach the processor (Spark's late-event
      filter drops them — the W7 grace contract, pinned by
      test_join_wait_event_time_late_record_is_dropped).

    Inputs are unioned upstream (side='S'|'T') so one keyed processor sees
    both, mirroring the reference's two-store transformer.
    """
    if time_mode not in ("processing", "event"):
        raise ValueError(f"time_mode must be processing|event: {time_mode}")
    event_mode = time_mode == "event"
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("stream_value", T.DoubleType()),
        T.StructField("table_value", T.LongType()),
    ])
    # each pending record carries its own reference time (enqueue wall ms in
    # processing mode, event-time ms in event mode) so the timeout honors
    # the reference's PER-RECORD approxMaxWaitTime contract — a shared timer
    # armed by an earlier batch must not flush a freshly-buffered record
    state_schema = T.StructType([
        T.StructField("table_value", T.LongType()),
        T.StructField("has_table", T.BooleanType()),
        T.StructField("pending", T.ArrayType(T.DoubleType())),
        T.StructField("pending_ms", T.ArrayType(T.LongType())),
    ])

    extra_s = [F.col(ts_col).cast("timestamp").alias("__ts")] if event_mode else []
    extra_t = [F.col(ts_col).cast("timestamp").alias("__ts")] if event_mode else []
    tagged = (stream.select(F.col(key_col), F.lit("S").alias("side"),
                            F.col("value").cast("double").alias("s_val"),
                            F.lit(None).cast("long").alias("t_val"), *extra_s)
              .unionByName(
                  tbl.select(F.col(key_col), F.lit("T").alias("side"),
                             F.lit(None).cast("double").alias("s_val"),
                             F.col("value").cast("long").alias("t_val"),
                             *extra_t)))
    if event_mode:
        tagged = tagged.withWatermark("__ts", watermark_delay)

    wait_ms = wait_seconds * 1000

    def _arm(state: GroupState, pending_ms: list, clock: int) -> None:
        # one timer per key, aimed at the OLDEST waiter's deadline; nothing
        # pending -> no timer (a later arrival re-arms on the data path)
        if not pending_ms:
            return
        deadline = min(pending_ms) + wait_ms
        if event_mode:
            # EventTimeTimeout: fires when the watermark passes the
            # timestamp; anything already due was flushed this call, so
            # deadline > watermark holds
            state.setTimeoutTimestamp(deadline)
        else:
            state.setTimeoutDuration(max(1, deadline - clock))

    def _clock(state: GroupState) -> int:
        if event_mode:
            wm = state.getCurrentWatermarkMs()
            return wm if wm > 0 else -(1 << 62)  # no watermark yet: nothing due
        return state.getCurrentProcessingTimeMs()

    def _sweep(pending, pending_ms, clock):
        """Split waiters into (expired, kept) against the mode's clock."""
        expired = [v for v, t in zip(pending, pending_ms)
                   if clock - t >= wait_ms]
        keep = [(v, t) for v, t in zip(pending, pending_ms)
                if clock - t < wait_ms]
        return expired, [v for v, _ in keep], [t for _, t in keep]

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        clock = _clock(state)
        if state.hasTimedOut:
            t_val, has_t, pending, pending_ms = state.get
            pending = list(pending or []); pending_ms = list(pending_ms or [])
            # flush only records that actually waited out wait_seconds
            expired, pending, pending_ms = _sweep(pending, pending_ms, clock)
            if expired:
                yield pd.DataFrame({key_col: [key[0]] * len(expired),
                                    "stream_value": expired,
                                    "table_value": [None] * len(expired)})
            state.update((t_val, has_t, pending, pending_ms))
            _arm(state, pending_ms, clock)
            return
        t_val, has_t, pending, pending_ms = (
            state.get if state.exists else (None, False, [], []))
        pending = list(pending or []); pending_ms = list(pending_ms or [])
        out_s, out_t = [], []
        for pdf in pdfs:
            # vectorize over consecutive same-side runs: the common batch is
            # single-sided (one run, zero per-row Python); mixed batches
            # keep exact arrival-order semantics run by run
            sides = pdf["side"].to_numpy()
            if len(sides) == 0:
                continue
            s_vals = pdf["s_val"].to_numpy(dtype=float)
            t_vals = pdf["t_val"].to_numpy()
            if event_mode:
                ev_ms = (pdf["__ts"].to_numpy(dtype="datetime64[ns]")
                         .astype("int64") // 1_000_000)
            bounds = [0, *(np.nonzero(sides[1:] != sides[:-1])[0] + 1), len(sides)]
            for a, b in zip(bounds[:-1], bounds[1:]):
                if sides[a] == "T":
                    # waiters flush with the FIRST table value of the run —
                    # the value that would have flushed them in per-row
                    # order; later Ts in the run only update the cache
                    if pending:
                        out_s.extend(pending)
                        out_t.extend([int(t_vals[a])] * len(pending))
                        pending, pending_ms = [], []
                    t_val, has_t = int(t_vals[b - 1]), True
                elif has_t:
                    run = s_vals[a:b]
                    out_s.extend(run.tolist())
                    out_t.extend([t_val] * len(run))
                else:
                    pending.extend(s_vals[a:b].tolist())
                    pending_ms.extend(ev_ms[a:b].tolist() if event_mode
                                      else [clock] * (b - a))
        # unified due-sweep on the data path: records already past their
        # deadline flush now rather than waiting for a timer. Reachable
        # only at the edges (wait_seconds == 0, or an event-mode row at
        # exactly the watermark) — rows OLDER than the watermark are
        # dropped by Spark's late filter before this function — but it
        # keeps EventTimeTimeout armable (timestamps must exceed the
        # watermark), so the edge cannot wedge a waiter forever
        expired, pending, pending_ms = _sweep(pending, pending_ms, clock)
        out_s.extend(expired)
        out_t.extend([None] * len(expired))
        out_k = [key[0]] * len(out_s)
        state.update((t_val, has_t, pending, pending_ms))
        _arm(state, pending_ms, clock)
        if out_k:
            yield pd.DataFrame({key_col: out_k, "stream_value": out_s,
                                "table_value": out_t})

    timeout = (GroupStateTimeout.EventTimeTimeout if event_mode
               else GroupStateTimeout.ProcessingTimeTimeout)
    return (tagged.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    timeout))


def running_counts_v2(events: DataFrame, key_col: str = "word") -> DataFrame:
    """T1 on the transformWithState API (Spark 4 arbitrary-state v2) —
    the forward path for custom stateful processors: named state
    variables, timers, and state TTL live on the handle instead of one
    monolithic state tuple. Semantics identical to :func:`running_counts`
    (tested equal); requires the RocksDB state-store provider, which is
    the operation mode a real cluster runs anyway.

    Environment gate (like from_avro): the transformWithState Python
    driver worker imports google.protobuf, absent from this sandbox —
    the test skips when protobuf is missing and runs where it exists.
    applyInPandasWithState (:func:`running_counts` et al.) remains the
    dependency-free primary path.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField("count", T.LongType()),
    ])

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "count LONG")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            total = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self._count.update((total,))
            yield pd.DataFrame({key_col: [key[0]], "count": [total]})

        def close(self) -> None:
            pass

    return (events.groupBy(key_col)
            .transformWithStateInPandas(RunningCount(),
                                        outputStructType=out_schema,
                                        outputMode="Update",
                                        timeMode="None"))


def ordered_concat(events: DataFrame, key_col: str = "user_id",
                   ts_col: str = "ts", val_col: str = "event_type",
                   tie_col: str = "event_id", sep: str = " ",
                   lateness_seconds: int | None = None) -> DataFrame:
    """A3 reduce (ordered concatenation), streaming mode — the analog of
    registry `reduce_concat` (ReduceTest.java:112-114) whose fold order is
    EVENT time, not arrival time.

    The batch oracle is ``string_agg(val ORDER BY ts, tie)``; a naive
    streaming reduce folds in arrival order and diverges whenever records
    cross micro-batch boundaries out of order. Here state per key holds the
    (ts_us, tie, val) triples seen so far; each batch merges its rows and
    re-emits the concatenation in (ts, tie) order, so ANY arrival
    permutation converges to the batch-oracle string. State is O(events
    per key) — the same asymptotics as the reference's reduce, whose
    accumulator IS the concatenated string.

    Late-data policy: with ``lateness_seconds`` set, a record older than
    (max event time seen for its key − lateness) is dropped — the
    per-key analog of watermark grace (W7); ``None`` accepts everything
    (the reference's reduce has no lateness bound).

    Update-mode output: one row per (batch, key) carrying the current
    full sequence — per-batch conflation of the reference's per-record
    emission, like running_counts.
    """
    out_schema = T.StructType([
        T.StructField(key_col, T.LongType()),
        T.StructField("type_seq", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("tie", T.ArrayType(T.LongType())),
        T.StructField("val", T.ArrayType(T.StringType())),
    ])
    late_us = None if lateness_seconds is None else lateness_seconds * 1_000_000

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        ts_l, tie_l, val_l = state.get if state.exists else ([], [], [])
        ts_a = np.asarray(ts_l, dtype=np.int64)
        tie_a = np.asarray(tie_l, dtype=np.int64)
        val_a = np.asarray(val_l, dtype=object)
        pdf = _in_order(pdfs, [ts_col, tie_col])
        ts_new = pdf[ts_col].to_numpy("datetime64[ns]").astype("int64") // 1000
        tie_new = pdf[tie_col].to_numpy(dtype=np.int64)
        val_new = pdf[val_col].to_numpy(dtype=object)
        if late_us is not None:
            # the cut is against the max over the state and the WHOLE batch
            hi = max(int(ts_a.max()) if len(ts_a) else np.iinfo(np.int64).min,
                     int(ts_new.max()))
            keep = ts_new >= hi - late_us
            ts_new, tie_new, val_new = ts_new[keep], tie_new[keep], val_new[keep]
        ts_a = np.concatenate([ts_a, ts_new])
        tie_a = np.concatenate([tie_a, tie_new])
        val_a = np.concatenate([val_a, val_new])
        # merge the sorted batch into the sorted state: primary ts,
        # secondary tie (lexsort keys are listed least-significant first)
        order = np.lexsort((tie_a, ts_a))
        ts_a, tie_a, val_a = ts_a[order], tie_a[order], val_a[order]
        state.update((ts_a.tolist(), tie_a.tolist(), val_a.tolist()))
        yield pd.DataFrame({key_col: [key[0]],
                            "type_seq": [sep.join(map(str, val_a))]})

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    GroupStateTimeout.NoTimeout))


def fraud_fold(pdf: pd.DataFrame, state, limit: float, gap_us: int,
               key_col: str = "customer", val_col: str = "order_value",
               id_col: str = "order_id",
               ts_col: str = "ts") -> tuple[pd.DataFrame, tuple]:
    """Fold one bucket's orders, sorted on (customer, ts), into its state.

    ``state`` is three parallel sequences (customer, last_us, total): each
    customer the bucket has seen, with the time of their last order and
    their session total. Returns the verdict frame, rows in ``pdf`` order,
    and the new state; customers absent from ``pdf`` are carried unchanged.
    The totals are exactly those of a sequential per-customer fold: each
    session accumulates ``(carry + v0) + v1 + ...`` left to right."""
    cust_s = np.asarray(state[0], dtype=object)
    last_s = np.asarray(state[1], dtype=np.int64)
    total_s = np.asarray(state[2], dtype=float)
    keys = pdf[key_col].to_numpy(dtype=object)
    n = len(keys)
    # int64 ns // 1000 floors (datetime64[us] casts truncate toward zero,
    # which differs for pre-1970 sub-microsecond timestamps)
    ts_us = pdf[ts_col].to_numpy("datetime64[ns]").astype("int64") // 1000
    vals = pdf[val_col].to_numpy(dtype=float)
    # a session starts at each customer's first row and after each gap
    first = np.ones(n, dtype=bool)
    first[1:] = keys[1:] != keys[:-1]
    brk = first.copy()
    brk[1:] |= (ts_us[1:] - ts_us[:-1]) > gap_us
    # a customer's first session continues the carried one unless the gap
    # since their last order opens a new session; a new customer carries 0.0
    heads = np.flatnonzero(first)
    pos = pd.Index(cust_s).get_indexer(keys[heads])
    known = pos >= 0
    carry = np.zeros(len(heads))
    carry[known] = total_s[pos[known]]
    cont = np.ones(len(heads), dtype=bool)
    cont[known] = ts_us[heads[known]] - last_s[pos[known]] <= gap_us
    totals = vals.copy()
    totals[heads[cont]] = carry[cont] + vals[heads[cont]]
    # the sequential += of every session at once: step k adds the k-th row
    # of each session longer than k to the total before it
    starts = np.flatnonzero(brk)
    lens = np.diff(np.append(starts, n))
    by_len = np.argsort(-lens, kind="stable")
    starts, neg_lens = starts[by_len], -lens[by_len]
    for k in range(1, int(lens.max())):
        live = starts[:np.searchsorted(neg_lens, -k)]
        totals[live + k] = totals[live + k - 1] + vals[live + k]
    tails = np.append(heads[1:], n) - 1
    keep = np.ones(len(cust_s), dtype=bool)
    keep[pos[known]] = False
    new_state = (np.concatenate([cust_s[keep], keys[tails]]),
                 np.concatenate([last_s[keep], ts_us[tails]]),
                 np.concatenate([total_s[keep], totals[tails]]))
    out = pd.DataFrame({key_col: keys, id_col: pdf[id_col].to_numpy(),
                        val_col: vals,
                        "verdict": np.where(totals > limit, "FAIL", "PASS")})
    return out, new_state


def fraud_check(orders: DataFrame, limit: float, session_gap_seconds: int = 1800,
                key_col: str = "customer", val_col: str = "order_value",
                id_col: str = "order_id", ts_col: str = "ts") -> DataFrame:
    """Incremental fraud validation (FraudService.java:78-130).

    The reference session-aggregates each customer's order value and flags
    an order when the session total WOULD exceed the limit — evaluated per
    arriving order, not per closed window. State per customer is
    (last_us, total): a new order either joins the current session
    (gap <= session_gap) and accumulates, or starts a fresh session and
    resets the total. Emits one verdict per order; the order of output
    rows within a micro-batch is not part of the contract.

    Customers are grouped by their state-layout bucket,
    ``state.bucket_expr([customer])`` over ``state.N_BUCKETS`` (32)
    buckets, not one group per customer: ``applyInPandasWithState`` costs
    about 2 ms per group even for an empty fold, so an 8,000-row
    micro-batch with ~4,360 customers spent 2.9-3.3 s on group overhead
    alone at 4 partitions (4-core host). Each bucket's call folds all of
    its customers at once with :func:`fraud_fold`, and its state is three
    parallel arrays (customer, last_us, total), like ``ordered_concat``'s.
    The bucket count is the layout's constant, not a parameter, because it
    is the state key space: changing it needs a fresh checkpoint. A
    checkpoint written by the per-customer layout (key ``customer``, value
    ``(last_us, total)``) does not resume under this one either: the
    restarted query fails on its first batch with
    ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``.
    """
    out_schema = T.StructType([
        T.StructField(key_col, T.StringType()),
        T.StructField(id_col, T.StringType()),
        T.StructField(val_col, T.DoubleType()),
        T.StructField("verdict", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField(key_col, T.ArrayType(T.StringType())),
        T.StructField("last_us", T.ArrayType(T.LongType())),
        T.StructField("total", T.ArrayType(T.DoubleType())),
    ])
    gap_us = session_gap_seconds * 1_000_000

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        out, new_state = fraud_fold(
            _in_order(pdfs, [key_col, ts_col]),
            state.get if state.exists else ([], [], []),
            limit, gap_us, key_col, val_col, id_col, ts_col)
        state.update(tuple(a.tolist() for a in new_state))
        yield out

    return (orders.withColumn(BUCKET_COL, bucket_expr([key_col]))
            .groupBy(BUCKET_COL)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    GroupStateTimeout.NoTimeout))


def pack_sequences_stream(docs: DataFrame, budget: int = 256,
                          source_col: str = "source",
                          id_col: str = "doc_id",
                          n_col: str = "n_tokens") -> DataFrame:
    """Streaming per-source training-sequence packing — the stateful
    analog of operators.text.pack_sequences, sharded by source (the same
    sharding a production packer uses so state is one counter per shard).

    State per source is ONE long: the running token offset of that
    source's tape. Each micro-batch packs its documents in id order onto
    the tape and emits (doc_id, seq_id, seq_off, tok_from, tok_to) spans;
    sequences are per-source. If the stream replays a corpus in id order
    the final output equals the batch operator applied per source
    (tested); arrival-order streams get arrival-order packing, the only
    semantics an unbounded stream can offer. The inner math is
    numpy-vectorized (cumsum + repeat explode) — no per-row Python.
    """
    out_schema = T.StructType([
        T.StructField(source_col, T.StringType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("seq_id", T.LongType()),
        T.StructField("seq_off", T.LongType()),
        T.StructField("tok_from", T.LongType()),
        T.StructField("tok_to", T.LongType()),
    ])
    state_schema = T.StructType([T.StructField("offset", T.LongType())])
    B = budget

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        off = state.get[0] if state.exists else 0
        # null n_tokens (e.g. null text upstream) arrives as NaN and
        # would crash the int64 cast; the batch operator's n > 0
        # filter drops the same rows, so drop them here too
        pdf = _in_order(pdfs, [id_col]).dropna(subset=[n_col])
        n = pdf[n_col].to_numpy("int64")
        ids = pdf[id_col].to_numpy("int64")[n > 0]
        n = n[n > 0]
        if len(n) == 0:
            return
        starts = off + np.concatenate(([0], np.cumsum(n)[:-1]))
        first = starts // B
        cnt = (starts + n - 1) // B - first + 1
        doc_idx = np.repeat(np.arange(len(n)), cnt)
        seq_local = (np.arange(cnt.sum())
                     - np.repeat(np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt))
        seq = first[doc_idx] + seq_local
        lo = np.maximum(starts[doc_idx], seq * B)
        hi = np.minimum(starts[doc_idx] + n[doc_idx], (seq + 1) * B)
        state.update((int(starts[-1] + n[-1]),))
        yield pd.DataFrame({
            source_col: key[0], id_col: ids[doc_idx],
            "seq_id": seq, "seq_off": lo - seq * B,
            "tok_from": lo - starts[doc_idx],
            "tok_to": hi - starts[doc_idx]})

    return (docs.groupBy(source_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))
