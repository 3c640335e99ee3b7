"""Count-Min sketch, connected components, and deterministic sampling."""

import pytest
from pyspark.sql import functions as F

from kafka_streams_examples_spark.catalog import table
from kafka_streams_examples_spark.operators.dedup import connected_components
from kafka_streams_examples_spark.operators.sampling import (
    hash_sample, stratified_sample,
)
from kafka_streams_examples_spark.operators.sketch import cms_build, cms_lookup


def test_cms_never_undercounts_and_is_exact_when_wide(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    exact = {r["user_id"]: r["n"] for r in
             ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    keys = ev.select("user_id").distinct()

    # narrow sketch: collisions certain (|keys| > width), but never under
    tight = cms_lookup(cms_build(ev, "user_id", depth=4, width=16),
                       keys, "user_id", depth=4, width=16)
    got = {r["user_id"]: r["est"] for r in tight.collect()}
    assert set(got) == set(exact)
    assert all(got[k] >= exact[k] for k in exact)
    assert any(got[k] > exact[k] for k in exact)  # collisions really happen

    # wide sketch: with width >> |keys| and 4 rows, every key should find
    # at least one collision-free row -> estimate == exact
    wide = cms_lookup(cms_build(ev, "user_id", depth=4, width=4096),
                      keys, "user_id", depth=4, width=4096)
    got_w = {r["user_id"]: r["est"] for r in wide.collect()}
    assert got_w == exact


def test_cms_streaming_merge_equals_batch_build(spark, sf_dir, tmp_path):
    """Per-micro-batch sketches folded via foreachBatch must equal the
    one-shot batch sketch exactly (counter additivity), replaying events
    as 3 separate files."""
    from kafka_streams_examples_spark.operators.sketch import (
        cms_streaming_update,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    src = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    state = str(tmp_path / "cms_state")
    q = (stream.writeStream.outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .foreachBatch(cms_streaming_update(state, "user_id",
                                            depth=4, width=64))
         .start())
    q.processAllAvailable()
    q.stop()

    got = {(r["r"], r["bucket"]): r["cnt"]
           for r in spark.read.parquet(state).collect()}
    want = {(r["r"], r["bucket"]): r["cnt"]
            for r in cms_build(ev, "user_id", depth=4, width=64).collect()}
    assert got == want


def test_cms_rejects_excess_depth(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError):
        cms_build(df, "k", depth=99)


def test_connected_components_path_graph_multi_round(spark):
    """A long path needs multiple propagation rounds (diameter 7) — the
    convergence loop, not just one join, must be correct."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 17)]  # path 10-11-...-17
        + [(30, 31), (31, 32), (30, 32)],    # triangle
        "d1 long, d2 long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(10, 18)] + [(30,), (31,), (32,)] + [(99,)],
        "doc_id long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(edges, nodes).collect()}
    assert got == {**{i: 10 for i in range(10, 18)},
                   **{i: 30 for i in (30, 31, 32)},
                   99: 99}  # isolated node keeps itself


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Cross-check the distributed fixpoint against a sequential union-find
    on seeded random graphs (varied density, incl. isolated nodes)."""
    import random

    for seed, n_nodes, n_edges in [(1, 30, 10), (2, 30, 45), (3, 50, 25)]:
        rng = random.Random(seed)
        nodes = list(range(n_nodes))
        edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in nodes}

        got = {r["doc_id"]: r["cluster_id"] for r in connected_components(
            spark.createDataFrame(edges or [(0, 0)], "d1 long, d2 long"),
            spark.createDataFrame([(x,) for x in nodes], "doc_id long"),
        ).collect()}
        assert got == want, f"seed={seed}"


def test_connected_components_no_edges(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    empty = spark.createDataFrame([], "d1 long, d2 long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(empty, nodes).collect()}
    assert got == {1: 1, 2: 2}


def test_hash_sample_deterministic_and_salt_decorrelated(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    a1 = {r["doc_id"] for r in hash_sample(docs, 0.3, "doc_id", "s1")
          .select("doc_id").collect()}
    a2 = {r["doc_id"] for r in hash_sample(docs, 0.3, "doc_id", "s1")
          .select("doc_id").collect()}
    assert a1 == a2  # reproducible
    n = docs.count()
    assert 0.2 * n < len(a1) < 0.4 * n  # near the nominal rate
    b = {r["doc_id"] for r in hash_sample(docs, 0.3, "doc_id", "s2")
         .select("doc_id").collect()}
    overlap = len(a1 & b) / max(len(a1), 1)
    assert overlap < 0.6  # different salts draw (near-)independent samples


def test_stratified_sample_rate_change_isolated_to_stratum(spark, sf_dir):
    """Changing one stratum's rate must leave every other stratum's sample
    byte-identical — the property rand() sampling cannot give."""
    docs = table(spark, sf_dir, "documents")
    s1 = stratified_sample(docs, "lang", {"en": 0.25}, 1.0, "doc_id", "m")
    s2 = stratified_sample(docs, "lang", {"en": 0.75}, 1.0, "doc_id", "m")
    non_en_1 = sorted(r["doc_id"] for r in
                      s1.filter(F.col("lang") != "en").select("doc_id").collect())
    non_en_2 = sorted(r["doc_id"] for r in
                      s2.filter(F.col("lang") != "en").select("doc_id").collect())
    assert non_en_1 == non_en_2
    en_1 = {r["doc_id"] for r in
            s1.filter(F.col("lang") == "en").select("doc_id").collect()}
    en_2 = {r["doc_id"] for r in
            s2.filter(F.col("lang") == "en").select("doc_id").collect()}
    assert en_1 < en_2  # 25% sample is a strict subset of the 75% sample


def test_star_cc_matches_propagation_on_random_graphs(spark):
    """Large-star/small-star behind the same contract: identical output to
    min-label propagation on seeded random graphs."""
    import random

    from kafka_streams_examples_spark.operators.dedup import (
        connected_components_star,
    )

    for seed, n_nodes, n_edges in [(7, 40, 20), (8, 40, 60)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        edf = spark.createDataFrame(edges, "d1 long, d2 long")
        ndf = spark.createDataFrame([(x,) for x in range(n_nodes)],
                                    "doc_id long")
        want = {r["doc_id"]: r["cluster_id"]
                for r in connected_components(edf, ndf).collect()}
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components_star(edf, ndf).collect()}
        assert got == want, f"seed={seed}"


def test_star_cc_path_graph_log_rounds(spark):
    """The adversarial case propagation cannot handle: a 10k-node path has
    diameter 10k, so min-label propagation needs ~10k rounds — the star
    variant must finish (correctly) within 16 alternations, the O(log n)
    bound. max_iterations=16 makes the round budget part of the assertion:
    an unconverged run raises."""
    from kafka_streams_examples_spark.operators.dedup import (
        connected_components,
    )

    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = (connected_components(edges, nodes, max_iterations=16,
                                algorithm="star")
           .groupBy("cluster_id").count().collect())
    assert len(got) == 1
    assert got[0]["cluster_id"] == 0 and got[0]["count"] == n


def test_connected_components_raises_when_unconverged(spark):
    """A 20-node path needs 20 propagation rounds; after 3 the labels
    still split the path, so propagation raises instead of returning
    them. The star variant needs O(log n) rounds (6 here) and returns the
    one cluster."""
    n = 20
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with pytest.raises(RuntimeError, match="max_iterations=3"):
        connected_components(edges, nodes, max_iterations=3)
    got = (connected_components(edges, nodes, max_iterations=8,
                                algorithm="star")
           .groupBy("cluster_id").count().collect())
    assert [(r["cluster_id"], r["count"]) for r in got] == [(0, n)]


def test_connected_components_rejects_unknown_algorithm(spark):
    nodes = spark.createDataFrame([(1,)], "doc_id long")
    edges = spark.createDataFrame([], "d1 long, d2 long")
    with pytest.raises(ValueError):
        connected_components(edges, nodes, algorithm="bogus")


def test_weighted_upsample_fractional_epochs(spark):
    """weighted_upsample: floor(w) copies per row plus a hash-chosen
    extra at rate frac(w); deterministic re-run to re-run, stratum
    independence, epoch index dense per row."""
    from kafka_streams_examples_spark.operators.sampling import (
        weighted_upsample,
    )

    rows = [(i, "wiki" if i < 200 else "crawl") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = weighted_upsample(df, "source", {"wiki": 2.5, "crawl": 0.3},
                            default_weight=1.0, key_col="doc_id").cache()
    by_src = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # expected: wiki 200*2.5 = 500 +- hash noise; crawl 200*0.3 = 60 +-
    assert 440 <= by_src["wiki"] <= 560
    assert 35 <= by_src["crawl"] <= 90
    # every wiki row appears exactly 2 or 3 times, crawl 0 or 1
    copies = {r["doc_id"]: r["n"] for r in
              out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert all(copies[i] in (2, 3) for i in range(200))
    assert all(copies.get(i, 0) in (0, 1) for i in range(200, 400))
    # epoch index dense 0..n-1 per row
    mx = out.filter(F.col("doc_id") == 0).agg(
        F.min("epoch"), F.max("epoch"), F.count("*")).first()
    assert mx[0] == 0 and mx[2] == mx[1] + 1
    # deterministic
    out2 = weighted_upsample(df, "source", {"wiki": 2.5, "crawl": 0.3},
                             default_weight=1.0, key_col="doc_id")
    assert out.exceptAll(out2).count() == 0 and out2.exceptAll(out).count() == 0
    # stratum independence: changing crawl's weight leaves wiki identical
    out3 = weighted_upsample(df, "source", {"wiki": 2.5, "crawl": 0.9},
                             default_weight=1.0, key_col="doc_id")
    assert (out.filter("source = 'wiki'").exceptAll(
        out3.filter("source = 'wiki'")).count() == 0)


def test_quantile_sketch_matches_python_replica(spark):
    import hashlib, math
    from kafka_streams_examples_spark.operators.sketch import quantile_sketch

    rows = [(i, "t", float((i * 37) % 101)) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = quantile_sketch(df, rate=4).collect()
    assert len(got) == 1
    r = got[0]

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sample = sorted(v for i, _, v in rows if h64(f"{i}qsk") % 4 == 0)
    m = len(sample)

    def q_cont(p):
        hpos = (m - 1) * p
        lo, hi = int(math.floor(hpos)), int(math.ceil(hpos))
        return sample[lo] + (hpos - lo) * (sample[hi] - sample[lo])

    def sr(x, d):
        return math.floor(x * 10 ** d + 0.5) / 10 ** d

    assert (r.n, r.m) == (400, m)
    assert r.p50_est == sr(q_cont(0.5), 4)
    assert r.p90_est == sr(q_cont(0.9), 4)
    le50 = sum(1 for _, _, v in rows if v <= q_cont(0.5))
    assert r.p50_rank_err == sr(abs(le50 / 400 - 0.5), 6)
    assert r.rank_bound == sr(3.0 / math.sqrt(m), 6)


def test_quantile_sketch_within_bound_on_fixture(spark, sf_dir):
    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.operators.sketch import quantile_sketch

    rows = quantile_sketch(table(spark, sf_dir, "events")).collect()
    assert rows
    # a 1/16 uniform sample must realize rank errors inside the
    # 3/sqrt(m) bound on every fixture type (deterministic, not flaky:
    # the sample is a pure hash property of the data)
    assert all(r.within_bound for r in rows)
    # determinism: byte-identical on re-run
    again = quantile_sketch(table(spark, sf_dir, "events")).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
