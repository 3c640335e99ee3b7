"""Property-based tests (hypothesis): Spark operators vs naive in-memory
reference implementations on adversarial small inputs. Bounded example
counts keep each Spark round-trip affordable."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from kafka_streams_examples_spark.operators.dedup import dedup_within_ttl
from kafka_streams_examples_spark.operators.topk import top_k_per_group
from kafka_streams_examples_spark.operators.windows import with_session_id

BASE = datetime(2024, 1, 1)

events = st.lists(
    st.tuples(st.sampled_from(["k1", "k2", "k3"]),
              st.integers(min_value=0, max_value=7200)),   # seconds offset
    min_size=1, max_size=25)


def naive_ttl_dedup(rows, ttl):
    """first-occurrence-wins per key unless gap to PREVIOUS kept-or-not
    occurrence exceeds ttl (lag semantics, ties broken by offset order)."""
    keep = []
    last = {}
    for key, off in sorted(rows, key=lambda r: (r[0], r[1])):
        if key not in last or off - last[key] > ttl:
            keep.append((key, off))
        last[key] = off
    return sorted(keep)


@settings(max_examples=8, deadline=None)
@given(events)
def test_dedup_ttl_matches_naive(spark, rows):
    # dedup semantics are defined on distinct (key, ts) occurrences; the
    # tiebreak column only stabilizes ordering of exact duplicates
    rows = list({(k, o) for k, o in rows})
    df = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=o), o) for k, o in rows],
        "k string, ts timestamp, off long")
    got = dedup_within_ttl(df, ["k"], ttl_seconds=600, ts_col="ts",
                           tiebreak=["off"])
    got_set = sorted((r["k"], r["off"]) for r in got.collect())
    assert got_set == naive_ttl_dedup(rows, 600)


def naive_sessions(rows, gap):
    out = {}
    for key in {k for k, _ in rows}:
        offs = sorted(o for k, o in rows if k == key)
        sessions, cur = [], [offs[0]]
        for o in offs[1:]:
            if o - cur[-1] > gap:
                sessions.append(cur)
                cur = [o]
            else:
                cur.append(o)
        sessions.append(cur)
        out[key] = sorted((s[0], len(s)) for s in sessions)
    return out


@settings(max_examples=8, deadline=None)
@given(events)
def test_sessionization_matches_naive(spark, rows):
    rows = list({(k, o) for k, o in rows})
    df = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=o), o) for k, o in rows],
        "k string, ts timestamp, off long")
    sess = with_session_id(df, ["k"], gap_seconds=900, ts_col="ts")
    agg = (sess.groupBy("k", "session_id")
               .agg(F.min("off").alias("start"), F.count("*").alias("n")))
    got = {}
    for r in agg.collect():
        got.setdefault(r["k"], []).append((r["start"], r["n"]))
    got = {k: sorted(v) for k, v in got.items()}
    assert got == naive_sessions(rows, 900)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["g1", "g2"]),
                          st.integers(0, 50)), min_size=1, max_size=20),
       st.integers(min_value=1, max_value=4))
def test_topk_matches_naive(spark, rows, k):
    rows = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(rows, "g string, v long, uid long")
    got = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("uid")], k=k)
    by_g = {}
    for g, v, uid in rows:
        by_g.setdefault(g, []).append((-v, uid))
    want = {g: sorted(vs)[:k] for g, vs in by_g.items()}
    got_m = {}
    for r in got.collect():
        got_m.setdefault(r["g"], []).append((-r["v"], r["uid"]))
    assert {g: sorted(v) for g, v in got_m.items()} == want


texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40),
    min_size=1, max_size=8)


def naive_chunks(text, chunk, stride):
    import re
    # re.split('\s+') matches Spark split semantics incl. the '' tokens a
    # leading/trailing-space text produces
    toks = re.split(r"\s+", text.lower())
    out = []
    for cid, start in enumerate(range(0, max(len(toks), 1), stride)):
        sl = toks[start:start + chunk]
        out.append((cid, " ".join(sl), len(sl)))
    return out


@settings(max_examples=6, deadline=None)
@given(texts)
def test_chunk_documents_matches_naive(spark, docs):
    from kafka_streams_examples_spark.operators.text import chunk_documents

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = sorted((r["doc_id"], r["chunk_id"], r["chunk_text"],
                  r["n_chunk_tokens"])
                 for r in chunk_documents(df, chunk_tokens=5, stride=3).collect())
    want = sorted((i, cid, txt, n)
                  for i, t in enumerate(docs)
                  for cid, txt, n in naive_chunks(t, 5, 3))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10_000),
                min_size=1, max_size=60, unique=True))
def test_global_shuffle_is_dense_permutation(spark, keys):
    from kafka_streams_examples_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    got = global_shuffle(df, "doc_id").collect()
    assert sorted(r["pos"] for r in got) == list(range(1, len(keys) + 1))
    # reproducible: same seed -> identical assignment
    again = {r["doc_id"]: r["pos"] for r in global_shuffle(df, "doc_id").collect()}
    assert again == {r["doc_id"]: r["pos"] for r in got}


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=30),
                min_size=1, max_size=6))
def test_bigram_doc_stats_matches_naive(spark, docs):
    import re

    from kafka_streams_examples_spark.operators.text import bigram_doc_stats

    per_doc_bgs = {}
    for i, t in enumerate(docs):
        ws = re.split(r"\s+", t.lower())
        per_doc_bgs[i] = {f"{a} {b}" for a, b in zip(ws, ws[1:])} \
            if len(ws) >= 2 else set()
    dfreq = {}
    for bgs in per_doc_bgs.values():
        for b in bgs:
            dfreq[b] = dfreq.get(b, 0) + 1
    import math
    want = {}
    for i, bgs in per_doc_bgs.items():
        if bgs:
            avg = sum(dfreq[b] for b in bgs) / len(bgs)
            avg = math.floor(avg * 1e4 + 0.5) / 1e4
            want[i] = (len(bgs), sum(1 for b in bgs if dfreq[b] == 1), avg)
        else:
            want[i] = (0, 0, 0.0)

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["n_singleton"], r["avg_df"])
           for r in bigram_doc_stats(df).collect()}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=40),
                min_size=1, max_size=6))
def test_repetition_stats_matches_naive(spark, docs):
    """dup-token fraction and top-bigram share vs a python reference on a
    tiny alphabet (maximally repetitive inputs by construction)."""
    from collections import Counter

    from kafka_streams_examples_spark.operators.text import repetition_stats

    rows = [(i, t) for i, t in enumerate(docs)]
    got = {r["doc_id"]: r for r in repetition_stats(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    for i, t in rows:
        toks = [w for w in t.lower().split() if w]
        n = len(toks)
        dup = 0.0 if n == 0 else round(1.0 - len(set(toks)) / n, 4)
        bgs = Counter(zip(toks, toks[1:]))
        share = 0.0 if not bgs else round(max(bgs.values())
                                          / sum(bgs.values()), 4)
        r = got[i]
        assert r["n_tokens"] == n
        assert abs(r["dup_token_frac"] - dup) < 1e-9
        assert abs(r["top_bigram_share"] - share) < 1e-9


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_decontaminate_matches_naive(spark, data):
    """Candidate-driven decontamination == brute-force padded contains on
    random corpora: exercises the MOSS guarantee (every token-aligned
    match of >= w+n-1 tokens shares a winnowing fingerprint) end to end,
    including repeated-token runs that stress shingle degeneracy."""
    from kafka_streams_examples_spark.operators.text import decontaminate

    vocab = ["aa", "bb", "cc", "dd"]
    docs = data.draw(st.lists(
        st.lists(st.sampled_from(vocab), min_size=0, max_size=30),
        min_size=1, max_size=6))
    frags = []
    for fi in range(data.draw(st.integers(min_value=1, max_value=3))):
        src = data.draw(st.integers(min_value=0, max_value=len(docs) - 1))
        toks = docs[src]
        length = data.draw(st.integers(min_value=6, max_value=12))
        if len(toks) >= length:
            start = data.draw(st.integers(min_value=0,
                                          max_value=len(toks) - length))
            frags.append((100 + fi, " ".join(toks[start:start + length])))
    # plus a fragment from outside the corpus vocabulary (never matches)
    frags.append((999, " ".join(["zz"] * 6)))

    sdocs = spark.createDataFrame([(i, " ".join(t)) for i, t in enumerate(docs)],
                                  "doc_id long, text string")
    scont = spark.createDataFrame(frags, "src_id long, frag string")
    got = {(r["doc_id"], r["src_id"])
           for r in decontaminate(sdocs, scont).collect()}
    want = {(i, sid)
            for i, toks in enumerate(docs)
            for sid, frag in frags
            if f" {frag} " in f" {' '.join(toks)} "}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_pack_sequences_matches_naive(spark, data):
    """Two-phase bucketed packing == the naive sequential tape on random
    corpora: sparse/dense ids crossing the id_bits bucket boundary,
    zero-token docs interleaved, docs far larger than the budget."""
    from kafka_streams_examples_spark.operators.text import pack_sequences

    ids = data.draw(st.lists(st.integers(min_value=0, max_value=5000),
                             min_size=1, max_size=20, unique=True))
    sizes = {i: data.draw(st.integers(min_value=0, max_value=40))
             for i in ids}
    budget = data.draw(st.sampled_from([3, 7, 16]))
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * sizes[i])) for i in ids],
        "doc_id long, text string")
    # id_bits=2 -> 4-id buckets, so random ids cross many bucket edges
    got = {(r["doc_id"], r["seq_id"], r["seq_off"], r["tok_from"], r["tok_to"])
           for r in pack_sequences(docs, budget=budget, id_bits=2).collect()}

    want = set()
    off = 0
    for i in sorted(ids):
        n = sizes[i]
        if n > 0:
            for j in range(off // budget, (off + n - 1) // budget + 1):
                lo = max(off, j * budget)
                hi = min(off + n, (j + 1) * budget)
                want.add((i, j, lo - j * budget, lo - off, hi - off))
            off += n
    assert got == want


orders = st.lists(
    st.tuples(st.sampled_from([f"c{i}" for i in range(9)]),
              # equal timestamps, gaps of exactly and just over 30 minutes
              st.sampled_from([0, 900, 1800, 1801, 2700, 3600, 3601, 7200]),
              st.sampled_from([0.1, 0.2, 0.3, 1e-9, 150.0, 333.3])),
    min_size=1, max_size=60)


@settings(max_examples=200, deadline=None)
@given(orders, st.data())
def test_fraud_fold_matches_per_customer_fold(rows, data):
    """Folding buckets of several customers at once (3 buckets, 9
    customers), over any split into micro-batches and Arrow chunks, gives
    the verdicts and final state of a sequential per-customer fold that
    takes each micro-batch's rows in (ts, arrival) order."""
    import pandas as pd

    from kafka_streams_examples_spark.streaming.stateful import (
        _in_order, fraud_fold,
    )

    limit, gap_us = 500.0, 1_800_000_000
    rows = [(c, f"o{i}", v, s * 1_000_000) for i, (c, s, v) in enumerate(rows)]
    cuts = sorted(data.draw(st.sets(st.integers(1, len(rows)), max_size=4)))
    batches = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)]) if a < b]
    chunk = data.draw(st.integers(1, 8))

    want, want_state = {}, {}
    for batch in batches:
        for c, oid, v, t in sorted(batch, key=lambda r: (r[0], r[3])):
            last, total = want_state.get(c, (None, 0.0))
            total = v if last is not None and t - last > gap_us else total + v
            want_state[c] = (t, total)
            want[oid] = "FAIL" if total > limit else "PASS"

    got, states = {}, {}
    for batch in batches:
        pdf = pd.DataFrame(batch, columns=["customer", "order_id",
                                           "order_value", "ts_us"])
        pdf["ts"] = pd.to_datetime(pdf["ts_us"], unit="us")
        for b, rows_b in pdf.groupby(pdf["customer"].str[1:].astype(int) % 3):
            chunks = [rows_b.iloc[i:i + chunk]
                      for i in range(0, len(rows_b), chunk)]
            out, new = fraud_fold(_in_order(chunks, ["customer", "ts"]),
                                  states.get(b, ([], [], [])), limit, gap_us)
            states[b] = tuple(a.tolist() for a in new)
            got.update(zip(out["order_id"], out["verdict"]))
    got_state = {c: (t, total) for cs, ts_, tot in states.values()
                 for c, t, total in zip(cs, ts_, tot)}
    assert got == want
    assert got_state == want_state
