"""Cross-checks for the approximate operators that have no SQL oracle:
MinHash-LSH against exact Jaccard, and IVF ANN recall against brute force."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_examples_spark.catalog import table
from kafka_streams_examples_spark.operators.dedup import (
    minhash_lsh_pairs, ngram_jaccard_pairs,
)
from kafka_streams_examples_spark.operators.similarity import (
    brute_force_knn, ivf_knn,
)


def test_lsh_pairs_subset_of_exact_with_high_recall(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    exact = {(r["d1"], r["d2"]) for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    lsh = {(r["d1"], r["d2"]) for r in
           minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                             jaccard_threshold=0.2).collect()}
    # verification step guarantees precision: every LSH pair is a real pair
    assert lsh <= exact
    # banding (2 rows x 4 bands) at jac>=0.2 — recall is probabilistic but
    # must catch the clear duplicates (jac >= 0.5)
    strong = {(r["d1"], r["d2"]) for r in
              ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert strong <= lsh or len(strong) == 0


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = brute_force_knn(queries, emb, k=5).collect()
    ivf = ivf_knn(queries, emb, k=5, nprobe=3).collect()
    bf_set = {(r["q_id"], r["c_id"]) for r in bf}
    ivf_set = {(r["q_id"], r["c_id"]) for r in ivf}
    recall = len(bf_set & ivf_set) / len(bf_set)
    # labels are weak clusters; nprobe=3/10 should still catch most true
    # neighbors — this guards against routing bugs, not ANN quality
    assert recall >= 0.3, f"recall {recall}"
    # exact self-consistency: ivf scores must equal brute-force scores for
    # overlapping pairs
    bf_scores = {(r["q_id"], r["c_id"]): r["cos_sim"] for r in bf}
    for r in ivf:
        k = (r["q_id"], r["c_id"])
        if k in bf_scores:
            assert abs(bf_scores[k] - r["cos_sim"]) < 1e-9


def test_ivf_partitioned_corpus_prunes_on_disk(spark, sf_dir, tmp_path):
    """The IVF scale path: corpus written partitioned by centroid id; a
    probe of 2 buckets must show partition pruning at the scan (only the
    probed directories are read) — this is what makes IVF skip >90% of a
    100 TB corpus on disk."""
    from kafka_streams_examples_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "corpus_by_centroid")
    emb.write.partitionBy("label").parquet(path)
    corpus = spark.read.parquet(path)
    probed = corpus.filter(F.col("label").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(label" in plan or "label#" in plan.split("PartitionFilters")[1][:80]
    # pruning is real: scanned row count equals the two buckets' rows
    want = emb.filter(F.col("label").isin([0, 1])).count()
    assert probed.count() == want


def test_simhash_hamming_pairs_pigeonhole_recall(spark, sf_dir):
    """Band-LSH must find EVERY pair within max_hamming (pigeonhole is a
    guarantee, not a probability): compare against the all-pairs truth on
    the real corpus, and check precision (no pair beyond the threshold)."""
    from kafka_streams_examples_spark.operators.dedup import (
        simhash, simhash_hamming_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    got = {(r["d1"], r["d2"]): r["hamming"]
           for r in simhash_hamming_pairs(docs, bits=32, bands=4,
                                          max_hamming=3).collect()}
    fps = {r["doc_id"]: r["simhash"]
           for r in simhash(docs, bits=32).collect()}
    ids = sorted(fps)
    truth = {}
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            h = bin(fps[d1] ^ fps[d2]).count("1")
            if h <= 3:
                truth[(d1, d2)] = h
    assert got == truth  # exact recall AND precision, distances included


def test_signlsh_dots_rejects_non_finite_weights(monkeypatch):
    """A non-finite weight has no SQL literal form: building the dot
    products must raise ValueError (which, unlike assert, survives
    ``python -O``) before any expression is parsed."""
    import pytest

    from kafka_streams_examples_spark.operators import dedup

    monkeypatch.setattr(dedup, "signlsh_weights",
                        lambda planes, dim, salt="slsh": [[0.5, float("inf")]])
    with pytest.raises(ValueError, match="finite"):
        dedup.signlsh_dots("v", planes=1, dim=2)


def test_signlsh_salted_repetitions_raise_recall(spark, sf_dir):
    """Sign-LSH recall is probabilistic per table; unioning independently
    salted repetitions must only ADD pairs (monotone recall), and
    everything found must clear the cosine threshold (precision exact by
    construction). Verified against the all-pairs truth at small SF."""
    from kafka_streams_examples_spark.functions import dot_product, l2_norm
    from kafka_streams_examples_spark.operators.dedup import (
        embedding_signlsh_pairs,
    )

    emb = table(spark, sf_dir, "embeddings")
    one = {(r["d1"], r["d2"]) for r in embedding_signlsh_pairs(
        emb, planes=8, dim=64, threshold=0.25, salt="s1").collect()}
    two = one | {(r["d1"], r["d2"]) for r in embedding_signlsh_pairs(
        emb, planes=8, dim=64, threshold=0.25, salt="s2").collect()}
    assert one <= two and len(two) > len(one)  # second table adds recall

    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("v1"),
                   l2_norm("embedding").alias("n1"))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("v2"),
                   l2_norm("embedding").alias("n2"))
    sim = dot_product(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    allp = (a.crossJoin(b).filter(F.col("d1") < F.col("d2"))
             .select("d1", "d2", F.round(sim, 4).alias("c")).collect())
    truth = {(r["d1"], r["d2"]) for r in allp if r["c"] >= 0.25}
    assert two <= truth  # zero false positives

    # collision probability rises with cosine (the Charikar guarantee):
    # recall in the higher-similarity band must beat the lower band.
    # (This synthetic corpus tops out near cos 0.48, so absolute recall of
    # an 8-bit AND-only signature is single-digit % by design — the
    # operator targets near-duplicates; repetitions/multi-probe are the
    # recall knobs, as the docstring documents.)
    lo = {(r["d1"], r["d2"]) for r in allp if 0.25 <= r["c"] < 0.35}
    hi = {(r["d1"], r["d2"]) for r in allp if 0.35 <= r["c"] < 0.45}
    assert len(two & hi) / len(hi) > len(two & lo) / len(lo)


def test_new_operators_tolerate_empty_input(spark):
    """Every scan-shaped training-pipeline operator must return an empty,
    correctly-typed result on an empty corpus rather than crash."""
    from kafka_streams_examples_spark.operators.dedup import (
        embedding_signlsh_pairs, simhash_hamming_pairs,
    )
    from kafka_streams_examples_spark.operators.sampling import (
        stratified_sample,
    )
    from kafka_streams_examples_spark.operators.sketch import (
        cms_build, cms_lookup,
    )
    from kafka_streams_examples_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    ev = spark.createDataFrame([], "user_id long")

    assert simhash_hamming_pairs(docs, bits=32, bands=4).count() == 0
    assert tfidf_top_terms(docs).count() == 0
    assert stratified_sample(docs, "lang", {"en": 0.5}, 1.0, "doc_id").count() == 0
    assert embedding_signlsh_pairs(emb, planes=4, dim=64).count() == 0
    sk = cms_build(ev, "user_id", depth=2, width=8)
    assert sk.count() == 0
    assert cms_lookup(sk, ev, "user_id", depth=2, width=8).count() == 0
    # r5 operators: empty corpus AND empty benchmark set both degrade to
    # empty typed results
    from kafka_streams_examples_spark.operators.text import (
        decontaminate, repetition_stats,
    )
    cont = spark.createDataFrame([], "src_id long, frag string")
    assert decontaminate(docs, cont).count() == 0
    assert repetition_stats(docs).count() == 0
    some = spark.createDataFrame([(1, "hello world text")],
                                 "doc_id long, text string")
    assert decontaminate(some, cont).count() == 0   # empty benchmark set
    assert repetition_stats(some).count() == 1


def test_winnowing_guarantees_shared_fp_for_long_overlap(spark):
    """Any match of length >= w + n - 1 = 6 tokens must yield at least one
    shared fingerprint (the winnowing guarantee); disjoint docs share none."""
    from kafka_streams_examples_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token common run
    docs = spark.createDataFrame(
        [(1, f"one two {shared} three four"),
         (2, f"five six seven {shared} eight"),
         (3, "completely different words entirely here nine ten")],
        "doc_id long, text string")
    fps = winnow_fingerprints(docs, w=4, n=3).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]  # overlap detected
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_simhash_hamming_pairs_rejects_bad_banding(spark):
    import pytest as _pytest

    from kafka_streams_examples_spark.operators.dedup import simhash_hamming_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(docs, bits=30, bands=4)
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(docs, bits=32, bands=4, max_hamming=4)


def test_decontaminate_token_aligned_containment(spark):
    """Candidate-driven decontamination equals the naive contains oracle:
    a verbatim inclusion hits (any source doc), a char-level-but-not-
    token-aligned overlap does NOT, unrelated text does not."""
    from kafka_streams_examples_spark.operators.text import decontaminate

    frag = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, f"intro words here {frag} trailing tail words"),
         # token-misaligned: 'xalpha' shares the char suffix but the
         # padded contains must reject it
         (2, f"intro x{frag} trailing"),
         (3, "totally unrelated content about something else entirely"),
         # extra whitespace must normalize away before matching
         (4, f"padded   {frag.replace(' ', '  ')}   end")],
        "doc_id long, text string")
    cont = spark.createDataFrame([(100, frag)], "src_id long, frag string")
    got = {(r["doc_id"], r["src_id"])
           for r in decontaminate(docs, cont).collect()}
    assert got == {(1, 100), (4, 100)}


def test_repetition_stats_flags_loops(spark):
    """Gopher-style repetition: a token loop and a phrase loop flag, while
    varied text does not; empty text yields zeroed signals."""
    from kafka_streams_examples_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),                  # token loop
         (2, "buy now buy now buy now buy now buy now"),        # phrase loop
         (3, "a varied sentence with many distinct useful words"),
         (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["repetitive"] and got[1]["dup_token_frac"] > 0.8
    assert got[2]["repetitive"] and got[2]["top_bigram_share"] > 0.4
    assert not got[3]["repetitive"]
    assert got[4]["n_tokens"] == 0 and not got[4]["repetitive"]


def test_pii_redact_masks_and_counts(spark):
    """Known PII strings mask to placeholders with per-type counts; the
    cascade order means an email's digits never double-count as phone/IP."""
    from kafka_streams_examples_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [(1, "write to bob@corp.io or alice.smith@mail.co.uk now"),
         (2, "server 192.168.0.1 and 10.0.0.255 up"),
         (3, "call 555-1234 today"),
         (4, "mix x9@a.io from 1.2.3.4 dial 987-6543"),
         (5, "no pii here"),
         (6, "id 123-4567 beside 1.2.3.4")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert (got[1]["n_email"], got[1]["n_ip"], got[1]["n_phone"]) == (2, 0, 0)
    assert got[1]["redacted"] == "write to <EMAIL> or <EMAIL> now"
    assert (got[2]["n_email"], got[2]["n_ip"]) == (0, 2)
    assert got[2]["redacted"] == "server <IP> and <IP> up"
    assert got[3]["n_phone"] == 1 and got[3]["redacted"] == "call <PHONE> today"
    assert (got[4]["n_email"], got[4]["n_ip"], got[4]["n_phone"]) == (1, 1, 1)
    assert got[4]["redacted"] == "mix <EMAIL> from <IP> dial <PHONE>"
    assert (got[5]["n_email"], got[5]["n_ip"], got[5]["n_phone"]) == (0, 0, 0)
    assert got[5]["redacted"] == "no pii here"
    # IP masked before the phone pass: "1.2.3.4" cannot leave a phone match
    assert (got[6]["n_ip"], got[6]["n_phone"]) == (1, 1)
    assert got[6]["redacted"] == "id <PHONE> beside <IP>"


def test_pii_redact_is_case_insensitive(spark):
    """Capitalized PII must not leak: the email pattern carries (?i)."""
    from kafka_streams_examples_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [(1, "Write Bob.Smith@Corp.IO or ALICE@EXAMPLE.COM today")],
        "doc_id long, text string")
    r = pii_redact(docs).collect()[0]
    assert r["n_email"] == 2
    assert r["redacted"] == "Write <EMAIL> or <EMAIL> today"


def _kmeans_reference(vecs: dict, k: int, iters: int) -> dict:
    """Plain-Python replica of kmeans_train's contract (same seeds, same
    engine-portable rounding, same lower-cid tie-break)."""
    import numpy as np

    def rnd(x, d):
        return np.floor(np.asarray(x, dtype=float) * 10 ** d + 0.5) / 10 ** d

    ids = sorted(vecs)
    cents = {c: np.asarray(vecs[i], dtype=float) for c, i in enumerate(ids[:k])}

    def assign():
        out = {}
        for i in ids:
            d = {c: float(rnd(((np.asarray(vecs[i], dtype=float) - cent) ** 2).sum(), 6))
                 for c, cent in cents.items()}
            out[i] = min(d, key=lambda c: (d[c], c))
        return out

    for _ in range(iters):
        a = assign()
        cents = {c: rnd(np.mean([np.asarray(vecs[i], dtype=float)
                                 for i in ids if a[i] == c], axis=0), 6)
                 for c in sorted(set(a.values()))}
    a = assign()
    # the operator (and its oracle) round the already-6-rounded assignment
    # distance to 4 — replicate the double rounding exactly
    return {i: (a[i], float(rnd(rnd(((np.asarray(vecs[i], dtype=float)
                                      - cents[a[i]]) ** 2).sum(), 6), 4)))
            for i in ids}


def test_kmeans_train_matches_reference_and_separates_clusters(spark):
    from kafka_streams_examples_spark.operators.similarity import kmeans_train

    # three well-separated 2-D blobs; ids interleaved so the three seeds
    # (lowest ids) start one-per-blob
    pts = {0: [0.0, 0.0], 1: [10.0, 10.0], 2: [-10.0, 5.0],
           3: [0.2, 0.0], 4: [10.2, 10.0], 5: [-10.2, 5.0],
           6: [0.0, 0.2], 7: [10.0, 10.2], 8: [-10.0, 5.2],
           9: [0.1, 0.1], 10: [10.1, 10.1], 11: [-10.1, 5.1]}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts.items()],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["cluster"], r["dist"])
           for r in kmeans_train(df, k=3, iters=2).collect()}
    ref = _kmeans_reference(pts, k=3, iters=2)
    assert got == ref
    # and the blobs come out as exactly the intended groups
    by_cluster = {}
    for i, (c, _) in got.items():
        by_cluster.setdefault(c, set()).add(i)
    assert sorted(map(frozenset, by_cluster.values()), key=min) == [
        frozenset({0, 3, 6, 9}), frozenset({1, 4, 7, 10}),
        frozenset({2, 5, 8, 11})]


def test_kmeans_train_on_corpus_is_deterministic_and_bounded(spark, sf_dir):
    from kafka_streams_examples_spark.operators.similarity import kmeans_train

    emb = table(spark, sf_dir, "embeddings")
    a = kmeans_train(emb, k=8, iters=2).collect()
    assert len(a) == emb.count()
    clusters = {r["cluster"] for r in a}
    assert clusters <= set(range(8)) and len(clusters) > 1
    assert all(r["dist"] >= 0.0 for r in a)


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Probing Hamming-1 buckets on the least-confident planes can only
    add candidates: every single-probe hit survives, and recall vs brute
    force is non-decreasing in the probe count."""
    from kafka_streams_examples_spark.operators.similarity import (
        brute_force_knn, multiprobe_signlsh_knn,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    bf = {(r["q_id"], r["c_id"])
          for r in brute_force_knn(queries, emb, k=5).collect()}
    got = {}
    for probes in (1, 3, 5):
        got[probes] = {(r["q_id"], r["c_id"])
                       for r in multiprobe_signlsh_knn(queries, emb, k=5,
                                                       probes=probes).collect()}
    # single-probe results are re-ranked within a larger candidate pool as
    # probes grow, so top-k membership can shift — but true-neighbor recall
    # must be monotone non-decreasing
    r1 = len(got[1] & bf)
    r3 = len(got[3] & bf)
    r5 = len(got[5] & bf)
    assert r1 <= r3 <= r5
    # with 5 probes over 8-bit buckets the near-neighbor recall must be
    # substantially above the single-bucket floor on this corpus
    assert r5 > r1


def test_late_r5_similarity_ops_tolerate_degenerate_input(spark):
    """kmeans_train with fewer vectors than k, multiprobe with an empty
    corpus, and pii_redact on empty text must degrade gracefully."""
    from kafka_streams_examples_spark.operators.similarity import (
        kmeans_train, multiprobe_signlsh_knn,
    )
    from kafka_streams_examples_spark.operators.text import pii_redact

    emb = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [0.0] * 63 + [1.0])],
        "vec_id long, embedding array<double>")
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")

    # n < k: every vector still gets exactly one cluster
    got = kmeans_train(emb, k=8, iters=2).collect()
    assert len(got) == 2 and {r["cluster"] for r in got} == {0, 1}
    # empty corpus / empty query set
    assert kmeans_train(empty, k=8, iters=1).count() == 0
    assert multiprobe_signlsh_knn(emb, empty, k=3, probes=3).count() == 0
    assert multiprobe_signlsh_knn(empty, emb, k=3, probes=3).count() == 0
    # empty text: zero counts, empty redaction
    docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
    r = pii_redact(docs).collect()[0]
    assert (r["n_email"], r["n_ip"], r["n_phone"], r["redacted"]) == (0, 0, 0, "")


def test_unigram_surprisal_orders_rare_above_common(spark):
    import math

    from kafka_streams_examples_spark.operators.text import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "common common rare1 rare2"),
         (3, "rare3 rare4 rare5 rare6")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["surprisal"] for r in unigram_surprisal(docs).collect()}
    # all-common < mixed < all-singletons
    assert got[1] < got[2] < got[3]
    # exact check: 'common' is 6 of 12 tokens -> p=1/2 -> surprisal ln(2)
    assert abs(got[1] - round(math.log(2), 4)) < 2e-4
    # singleton tokens: p=1/12 -> ln(12)
    assert abs(got[3] - round(math.log(12), 4)) < 2e-4


def test_keep_best_selects_max_quality_member(spark, sf_dir):
    """Cross-operator consistency: dedup_keep_best must emit exactly one
    row per connected component, whose keeper is the member with maximal
    quality (ties to the lower id) and whose n_members is the component
    size — checked against the CC and quality operators directly."""
    from kafka_streams_examples_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    from kafka_streams_examples_spark.operators.text import with_quality
    from kafka_streams_examples_spark.registry import QUERIES

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                              jaccard_threshold=0.2)
    cc = connected_components(pairs, docs.select("doc_id")).collect()
    qual = {r["doc_id"]: r["quality"]
            for r in with_quality(docs.select("doc_id", "text"))
                        .select("doc_id", "quality").collect()}
    clusters: dict = {}
    for r in cc:
        clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
    want = {c: min(m, key=lambda i: (-qual[i], i))
            for c, m in clusters.items()}

    got = {r["cluster_id"]: (r["keeper_id"], r["n_members"])
           for r in QUERIES["dedup_keep_best"].spark(spark, sf_dir).collect()}
    assert set(got) == set(clusters)
    assert {c: k for c, (k, _) in got.items()} == want
    assert all(n == len(clusters[c]) for c, (_, n) in got.items())


def test_semantic_dedup_groups_and_keepers(spark, sf_dir):
    """semantic_dedup must cover every vector exactly once, mark exactly
    one keeper per group, and pick the member nearest its trained
    centroid (ties to lower id) — with at least one nontrivial group."""
    from kafka_streams_examples_spark.registry import QUERIES

    rows = QUERIES["semantic_dedup"].spark(spark, sf_dir).collect()
    n_vecs = table(spark, sf_dir, "embeddings").count()
    assert len(rows) == n_vecs
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["group_id"], []).append(r)
    assert any(len(m) > 1 for m in groups.values())
    for gid, members in groups.items():
        kept = [r for r in members if r["is_kept"] == 1]
        assert len(kept) == 1
        best = min(members, key=lambda r: (r["dist"], r["vec_id"]))
        assert kept[0]["vec_id"] == best["vec_id"]
        assert gid == min(r["vec_id"] for r in members)


def test_pack_sequences_tiles_exactly(spark, sf_dir):
    """Sequence packing must tile both sides exactly: each document's
    spans cover [0, n_tokens) contiguously, and each sequence's
    contributions cover [0, budget) with no gaps (the final sequence ends
    at the corpus total)."""
    from kafka_streams_examples_spark.operators.text import pack_sequences

    docs = table(spark, sf_dir, "documents")
    B = 256
    rows = pack_sequences(docs, budget=B).collect()
    n = {r["doc_id"]: r["n"] for r in docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.lower("text"), r"\s+"),
                        lambda x: x != "")).alias("n")).collect()}

    per_doc: dict = {}
    per_seq: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
        per_seq.setdefault(r["seq_id"], []).append(
            (r["seq_off"], r["seq_off"] + r["tok_to"] - r["tok_from"]))
    for doc, parts in per_doc.items():
        parts.sort(key=lambda r: r["tok_from"])
        assert parts[0]["tok_from"] == 0
        for a, b in zip(parts, parts[1:]):
            assert a["tok_to"] == b["tok_from"]
        assert parts[-1]["tok_to"] == n[doc]
    total = sum(n.values())
    assert set(per_seq) == set(range((total + B - 1) // B))
    for sid, spans in per_seq.items():
        spans.sort()
        assert spans[0][0] == 0
        for (_, a1), (b0, _) in zip(spans, spans[1:]):
            assert a1 == b0
        want_end = B if (sid + 1) * B <= total else total - sid * B
        assert spans[-1][1] == want_end


def test_bigram_surprisal_detects_word_order(spark):
    """The bigram model must separate texts the unigram model cannot:
    same words in natural vs shuffled order."""
    import math

    from kafka_streams_examples_spark.operators.text import (
        bigram_surprisal, unigram_surprisal,
    )

    # the corpus model is trained on all docs, so the shuffled doc must
    # be an OUTLIER against several natural-order copies — its
    # transitions occur once in the corpus while the natural ones occur
    # four times; the bags of words are identical
    natural = "the cat sat on the mat"
    shuffled = "mat the on sat cat the"
    docs = spark.createDataFrame(
        [(1, natural), (2, natural), (3, natural), (4, natural),
         (5, shuffled), (6, "one")],
        "doc_id long, text string")
    uni = {r["doc_id"]: r["surprisal"] for r in unigram_surprisal(docs).collect()}
    bi = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
    # same bag of words -> unigram can't tell them apart
    assert math.isclose(uni[1], uni[5], abs_tol=2e-4)
    # bigram: the shuffled outlier's transitions are corpus-rare
    assert bi[5]["surprisal"] > bi[1]["surprisal"]
    # single-token doc: no bigram positions
    assert bi[6]["n_bigrams"] == 0 and bi[6]["surprisal"] == 0.0


def test_pq_knn_exact_on_reconstructible_corpus(spark):
    """Corpus drawn exactly from a per-subspace prototype set: after one
    Lloyd's pass the codebook IS the prototype set, quantization error is
    zero, and ADC distance equals exact squared L2 — so pq_knn must
    reproduce the exact-distance ranking."""
    from kafka_streams_examples_spark.operators.similarity import pq_knn

    protos = [[float(10 * p + j) for j in range(2)] for p in range(4)]
    # vectors 0..3 are "pure" (prototype i in both subspaces) -> seeds
    # cover every prototype in every subspace; the rest mix prototypes
    mixes = [(0, 0), (1, 1), (2, 2), (3, 3),
             (0, 1), (1, 0), (2, 3), (3, 2), (0, 3), (2, 1)]
    rows = [(i, protos[a] + protos[b]) for i, (a, b) in enumerate(mixes)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # normalize=False: this fixture tests the QUANTIZER at zero error in
    # raw L2 — per-vector normalization would scale each prototype
    # differently and destroy the exact-reconstruction property
    got = pq_knn(df.filter("vec_id < 3"), df, k=3, m=2, codebook=4,
                 iters=1, dim=4, normalize=False).collect()

    def sqd(u, v):
        return sum((x - y) ** 2 for x, y in zip(u, v))
    vecs = dict(rows)
    for q in range(3):
        exact = sorted(((sqd(vecs[q], vecs[c]), c)
                        for c in vecs if c != q))[:3]
        mine = sorted([(r.adc_dist, r.c_id) for r in got if r.q_id == q])
        assert [c for _, c in mine] == [c for _, c in exact]
        for (gd, _), (ed, _) in zip(mine, exact):
            assert abs(gd - ed) < 1e-6


def test_pq_knn_recall_on_corpus(spark, sf_dir):
    """On the real embeddings, ADC ranking must be meaningfully better
    than random: mean exact-cosine of PQ's top-5 within a small margin of
    the exact top-5's mean."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        brute_force_knn, pq_knn,
    )
    emb = cat_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 10")
    exact = {(r.q_id, r.c_id) for r in brute_force_knn(q, emb, k=5).collect()}
    approx = {(r.q_id, r.c_id) for r in
              pq_knn(q, emb, k=5, m=4, codebook=16, iters=1).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2, recall  # far above the ~5/500 random baseline


def test_pq_knn_refine_covering_shortlist_equals_brute(spark, sf_dir):
    """refine=R re-ranks the ADC top-R by exact cosine; with R >= |corpus|
    the shortlist is everything, so the refined result must recover the
    brute-force top-5 id set exactly (and switch to the exact tiers'
    (q_id, c_id, cos_sim, rnk) schema)."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        brute_force_knn, pq_knn,
    )
    emb = cat_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5")
    refined = pq_knn(q, emb, k=5, m=4, codebook=16, iters=1,
                     refine=10_000)
    assert "cos_sim" in refined.columns and "adc_dist" not in refined.columns
    exact = {(r.q_id, r.c_id) for r in brute_force_knn(q, emb, k=5).collect()}
    got = {(r.q_id, r.c_id) for r in refined.collect()}
    assert got == exact


def test_pq_knn_empty_inputs(spark):
    from kafka_streams_examples_spark.operators.similarity import pq_knn
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    one = spark.createDataFrame([(0, [0.0] * 64)], ["vec_id", "embedding"])
    assert pq_knn(empty, one, k=3).count() == 0


def test_ivfpq_single_cell_equals_centered_pq(spark, sf_dir):
    """Residual-IVFADC reduction invariant (replaces the r5 probe-all ==
    raw-pq test, which residual encoding retires by design): with ONE
    coarse cell every vector's residual is x − the global centroid, so
    ivfpq must equal plain PQ run on the centered corpus — built here
    with the same _kmeans_fit/_unit/zip_with arithmetic the operator
    uses internally, so the equality is exact including adc_dist."""
    from pyspark.sql import functions as SF

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.functions import stable_round
    from kafka_streams_examples_spark.operators.similarity import (
        _kmeans_fit, _unit, ivfpq_knn, pq_knn,
    )
    emb = cat_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 6")
    cents, assigned = _kmeans_fit(_unit(emb, "vec_id", "embedding"), 1, 1)
    centered = (assigned
                .join(SF.broadcast(cents), assigned["cid"] == cents["cid"])
                .select("vec_id",
                        SF.zip_with("e", "cent",
                                    lambda x, y: stable_round(x - y, 6))
                          .alias("embedding")))
    full = [(r.q_id, r.c_id, r.adc_dist, r.rnk) for r in
            pq_knn(centered.filter("vec_id < 6"), centered, k=4, m=4,
                   codebook=8, iters=1, normalize=False).collect()]
    single_cell = [(r.q_id, r.c_id, r.adc_dist, r.rnk) for r in
                   ivfpq_knn(q, emb, k=4, nprobe=1, coarse_k=1,
                             coarse_iters=1, m=4, codebook=8,
                             pq_iters=1).collect()]
    assert sorted(single_cell) == sorted(full)


def test_kmeans_fit_checkpoints_seed_codebook_without_iterations(spark,
                                                                  sf_dir):
    """ivfpq_knn relies on ckpt_each_iter for a checkpointed codebook;
    with zero iterations the seed codebook must get that barrier too, or
    every downstream broadcast re-runs the seed pipeline."""
    from kafka_streams_examples_spark.operators.similarity import _kmeans_fit

    emb = table(spark, sf_dir, "embeddings")
    cents, _ = _kmeans_fit(emb, 4, 0, ckpt_each_iter=True)
    assert "LogicalRDD" in cents._jdf.queryExecution().logical().toString()
    assert cents.count() == 4


def test_ivfpq_candidates_confined_to_probed_cells(spark, sf_dir):
    """Every reported neighbor must live in one of its query's probed
    coarse cells — the IVF prune actually prunes."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        _kmeans_fit, ivfpq_knn,
    )
    from kafka_streams_examples_spark.functions import stable_round
    from pyspark.sql import Window, functions as F

    emb = cat_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 6")
    got = ivfpq_knn(q, emb, k=4, nprobe=2, coarse_k=4, coarse_iters=1,
                    m=4, codebook=8, pq_iters=1).collect()
    cents, assigned = _kmeans_fit(emb, 4, 1)
    cell = {r.vec_id: r.cid for r in assigned.collect()}
    from kafka_streams_examples_spark.operators.similarity import _sq_dist
    qc = q.select(F.col("vec_id").alias("q_id"),
                  F.transform("embedding",
                              lambda x: x.cast("double")).alias("qe")) \
          .join(F.broadcast(cents), F.lit(True)) \
          .select("q_id", "cid",
                  stable_round(_sq_dist(F.col("qe"), F.col("cent")), 6)
                  .alias("d"))
    w = Window.partitionBy("q_id").orderBy("d", "cid")
    probed = {}
    for r in (qc.withColumn("r", F.row_number().over(w))
                .filter("r <= 2").collect()):
        probed.setdefault(r.q_id, set()).add(r.cid)
    assert got, "ivfpq returned no rows"
    for r in got:
        assert cell[r.c_id] in probed[r.q_id]


def test_exact_substring_dedup_reconstructs_maximal_runs(spark):
    """A duplicated run of M >= L tokens must come back as ONE merged
    span of exactly M tokens (the suffix-array equivalence the docstring
    claims), and disjoint duplicated runs must stay separate spans."""
    from kafka_streams_examples_spark.operators.dedup import (
        exact_substring_dedup_stats,
    )
    run = "alpha beta gamma delta epsilon zeta"          # 6-token run
    other = "one two three four five six seven"
    docs = spark.createDataFrame(
        [(0, f"{run} filler0 {other}"),
         # doc 1 repeats the 6-run (one span of 6) and, disjointly,
         # 4 tokens of `other` (one span of 4)
         (1, f"x1 x2 {run} y1 y2 one two three four z9"),
         (2, "totally unique tokens only here q w e r t")],
        ["doc_id", "text"])
    got = {r.doc_id: r for r in
           exact_substring_dedup_stats(docs, l=4).collect()}
    assert got[0].n_dup_spans == 0 and got[0].tokens_removed == 0
    assert got[1].n_dup_spans == 2
    assert got[1].tokens_removed == 6 + 4
    assert got[1].n_tokens_kept == got[1].n_tokens - 10
    assert got[2].n_dup_spans == 0


def test_exact_substring_apply_cuts_spans(spark, sf_dir):
    """The apply half must (a) emit exactly the tokens the stats half
    says survive, per doc, on the real fixture; (b) on a constructed
    corpus, cut the duplicated runs and keep the first occurrence
    verbatim."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.dedup import (
        exact_substring_dedup_apply, exact_substring_dedup_stats,
    )

    docs = cat_table(spark, sf_dir, "documents")
    kept = {r.doc_id: r.n_tokens_kept
            for r in exact_substring_dedup_apply(docs, l=4).collect()}
    want = {r.doc_id: r.n_tokens_kept
            for r in exact_substring_dedup_stats(docs, l=4).collect()}
    assert kept == want and any(v > 0 for v in kept.values())

    run = "alpha beta gamma delta epsilon zeta"
    small = spark.createDataFrame(
        [(0, f"{run} tail0"),
         (1, f"x1 x2 {run} y1 y2"),
         (2, "all unique q w e r t")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           exact_substring_dedup_apply(small, l=4).collect()}
    assert out[0].clean_text == f"{run} tail0"      # first occurrence kept
    assert out[1].clean_text == "x1 x2 y1 y2"       # run cut, rest intact
    assert out[1].n_tokens_kept == 4
    assert out[2].clean_text == "all unique q w e r t"


def test_exact_substring_dedup_matches_python_reference(spark):
    """Brute-force reference on a random-ish corpus: mark every position
    whose 4-gram appeared in a lower-id doc, merge intervals in python."""
    from kafka_streams_examples_spark.operators.dedup import (
        exact_substring_dedup_stats,
    )
    import random
    rnd = random.Random(7)
    vocab = [f"w{j}" for j in range(12)]
    texts = [" ".join(rnd.choice(vocab) for _ in range(30)) for _ in range(12)]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    L = 4
    first_doc = {}
    for d, t in enumerate(texts):
        ws = t.split()
        for i in range(len(ws) - L + 1):
            g = tuple(ws[i:i + L])
            first_doc.setdefault(g, d)
    expected = {}
    for d, t in enumerate(texts):
        ws = t.split()
        marks = [(i, i + L) for i in range(len(ws) - L + 1)
                 if first_doc[tuple(ws[i:i + L])] < d]
        spans = []
        for s, e in marks:
            if spans and s <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((s, e))
        expected[d] = (len(spans), sum(e - s for s, e in spans))
    got = {r.doc_id: (r.n_dup_spans, r.tokens_removed) for r in
           exact_substring_dedup_stats(docs, l=L).collect()}
    assert got == expected


def test_clustered_recall_fixture_separates_tiers_and_moves(spark, sf_dir):
    """knn_recall_clustered's reason to exist: on the isotropic fixture
    multiprobe recall floors at 0.04 and a retrieval regression is
    invisible. The in-query 10-Gaussian mixture must (a) order the tiers
    brute > ivf > pq > multiprobe with every approximate tier strictly
    inside (0, 1) — mid-range, room to move BOTH ways — and (b) actually
    move when the search effort is perturbed (nprobe, probes), which is
    the property a regression detector needs."""
    from kafka_streams_examples_spark.operators.similarity import (
        multiprobe_signlsh_knn, pq_knn,
    )
    from kafka_streams_examples_spark.registry import _clustered_embeddings

    cl = _clustered_embeddings(spark, sf_dir).localCheckpoint()
    q = cl.filter(F.col("vec_id") < 20)
    bf = {(r["q_id"], r["c_id"])
          for r in brute_force_knn(q, cl, k=5).collect()}

    def recall(df):
        got = {(r["q_id"], r["c_id"]) for r in df.collect()}
        return len(got & bf) / len(bf)

    r_ivf = {n: recall(ivf_knn(q, cl, k=5, nprobe=n)) for n in (1, 2, 4)}
    r_mp = {p: recall(multiprobe_signlsh_knn(q, cl, k=5, planes=8, dim=64,
                                             probes=p)) for p in (1, 3, 6)}
    r_pq = recall(pq_knn(q, cl, k=5, m=4, codebook=16, iters=1, dim=64))

    # (a) mid-range separation of the RAW tiers (no refine, single
    # table, nprobe=2/probes=3 — the registry entries add refine=50 and
    # probes=7 on top): brute 1.0 > ivf > pq > multiprobe, all in (0, 1)
    assert 1.0 > r_ivf[2] > r_pq > r_mp[3] > 0.0, (r_ivf, r_pq, r_mp)
    # (b) the metric moves under effort perturbation — monotone in
    # nprobe/probes AND strictly increasing over the tested span
    assert r_ivf[1] <= r_ivf[2] <= r_ivf[4] and r_ivf[1] < r_ivf[4]
    assert r_mp[1] <= r_mp[3] <= r_mp[6] and r_mp[1] < r_mp[6]


def test_multiprobe_hamming2_perturbation_sets(spark, sf_dir):
    """max_flip=2 (Lv et al. perturbation sets): pair flips join the
    probe candidate pool. Pinned properties: (a) at a probe budget the
    H1 path cannot reach (probes > planes+1) the operator still returns
    full top-k per query, (b) H2 recall at the shipped registry setting
    (T=3, p=24) beats the H1 ship setting (T=3, p=7) on the clustered
    fixture by a wide margin (measured 0.90 vs 0.60 — assert >= so a
    perturbation-ordering regression trips it), (c) determinism across
    calls, (d) every probed bucket is within Hamming distance 2 of the
    query's own bucket (white-box, via the flip masks)."""
    from kafka_streams_examples_spark.operators.similarity import (
        brute_force_knn, multiprobe_signlsh_knn,
    )
    from kafka_streams_examples_spark.registry import _clustered_embeddings

    cl = _clustered_embeddings(spark, sf_dir).localCheckpoint()
    q = cl.filter(F.col("vec_id") < 20)
    bf = {(r["q_id"], r["c_id"])
          for r in brute_force_knn(q, cl, k=5).collect()}

    def run(**kw):
        return {(r["q_id"], r["c_id"])
                for r in multiprobe_signlsh_knn(
                    q, cl, k=5, planes=8, dim=64, **kw).collect()}

    h1 = run(probes=7, tables=3)
    h2 = run(probes=24, tables=3, max_flip=2)
    assert len(h2 & bf) / len(bf) >= len(h1 & bf) / len(bf) + 0.1, (
        len(h2 & bf), len(h1 & bf))
    assert run(probes=24, tables=3, max_flip=2) == h2  # deterministic
    # (d) white-box: the flip masks are distinct and have <= 2 bits set
    import itertools
    masks = {2 ** p for p in range(8)} | {
        2 ** i + 2 ** j for i, j in itertools.combinations(range(8), 2)}
    assert all(bin(m).count("1") <= 2 for m in masks)
    # probes beyond the H1 ceiling are accepted under max_flip=2 only
    import pytest
    with pytest.raises(AssertionError):
        multiprobe_signlsh_knn(q, cl, k=5, planes=8, dim=64, probes=24)


def test_auto_refine_scales_with_corpus(spark, sf_dir):
    """The r9 recall guardrail: the PQ tiers' exact-rerank shortlist
    holds a fixed ~topk/50 fraction of the corpus (floor 50). Pinned:
    (a) the formula — floor at every hash-verified fixture size (n <=
    500 -> 50, so oracle history is bit-identical), engaged above it
    (n=2000 -> 200, the value measured to restore clustered recall@5
    0.65 -> 0.93); (b) the registry entries actually consume it — the
    pq_knn oracle carries the scalar-subquery form and the Spark side
    passes the same integer."""
    from kafka_streams_examples_spark.operators.similarity import (
        auto_refine,
    )
    from kafka_streams_examples_spark.registry import QUERIES

    assert auto_refine(0) == 50
    assert auto_refine(500) == 50
    assert auto_refine(501) == 55
    assert auto_refine(2000) == 200
    assert auto_refine(2000, topk=10) == 400
    assert auto_refine(100, floor=25) == 25
    # integer arithmetic mirrors the SQL (count(*) + 49) // 50 exactly
    assert auto_refine(2001) == 5 * ((2001 + 49) // 50) == 205
    for name in ("pq_knn", "knn_ivfpq", "knn_recall",
                 "knn_recall_clustered"):
        assert "greatest(50" in QUERIES[name].oracle, name


def test_all_pairs_fallback_is_fenced(spark):
    """embedding_near_dup_pairs with bucket_col=None is O(n²); above
    ALL_PAIRS_ROW_LIMIT it must raise unless explicitly overridden
    (r7 verdict #3 — a caller mistake at 100 TB would be a cartesian
    product, not a slow query)."""
    import pytest

    from kafka_streams_examples_spark.operators.dedup import (
        ALL_PAIRS_ROW_LIMIT, embedding_near_dup_pairs,
    )

    n = ALL_PAIRS_ROW_LIMIT + 1
    big = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_near_dup_pairs(big, bucket_col=None)
    # small inputs need no override, and the explicit override builds the
    # plan without raising (identical vectors -> all C(4,2) pairs)
    small = big.limit(4)
    assert (embedding_near_dup_pairs(small, threshold=0.9,
                                     bucket_col=None).count() == 6)
    assert (embedding_near_dup_pairs(small, threshold=0.9, bucket_col=None,
                                     allow_all_pairs=True).count() == 6)


def test_incremental_dedup_equals_cross_side_full_pass(spark, sf_dir):
    """incremental_minhash_pairs(batch, corpus) must equal the FULL
    minhash_lsh_pairs run restricted to (batch, corpus) cross pairs —
    same signatures, same bands, same Jaccard — because one full pass
    plus per-increment runs compose into the same pair graph. Both ops
    round through the portable floor formula (post-r5 policy, unified
    in r9), so jac compares EXACTLY — no tolerance to hide a boundary
    divergence behind."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_lsh_pairs,
    )
    docs = cat_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    inc = {(r.new_id, r.corpus_id, r.jac)
           for r in incremental_minhash_pairs(
               new, corpus, num_hashes=8, bands=4,
               jaccard_threshold=0.2).collect()}
    full = minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                             jaccard_threshold=0.2).collect()
    cross = {(a, b, r.jac)
             for r in full
             for a, b in [(r.d1, r.d2), (r.d2, r.d1)]
             if a % 10 == 7 and b % 10 != 7}
    assert inc == cross and inc, (len(inc), len(cross))


def test_leakage_split_clusters_move_atomically(spark, sf_dir):
    """Every duplicate cluster lands in exactly one split (the whole
    point), near-dup pair members never straddle splits, the bucket is
    the portable md5 hash (deterministic across runs), and the split
    labels partition the corpus."""
    from kafka_streams_examples_spark.registry import QUERIES
    rows = QUERIES["leakage_split"].spark(spark, sf_dir).collect()
    docs_total = {r.doc_id for r in rows}
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
        assert r.split in ("train", "validation", "test")
        assert 0 <= r.split_bucket < 100
    assert all(len(s) == 1 for s in by_cluster.values())
    # determinism: an independent second build gives identical rows
    again = {(r.doc_id, r.cluster_id, r.split_bucket, r.split)
             for r in QUERIES["leakage_split"].spark(spark, sf_dir).collect()}
    assert again == {(r.doc_id, r.cluster_id, r.split_bucket, r.split)
                     for r in rows}
    # pair members share a split (implied by cluster atomicity, asserted
    # directly against the pair generator the split derives from)
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.dedup import minhash_lsh_pairs
    split_of = {r.doc_id: r.split for r in rows}
    pairs = minhash_lsh_pairs(cat_table(spark, sf_dir, "documents"),
                              num_hashes=8, bands=4,
                              jaccard_threshold=0.2).collect()
    assert pairs and all(split_of[p.d1] == split_of[p.d2] for p in pairs)
    assert len(docs_total) == len(rows)  # one row per doc, no dupes


def test_minhash_doc_profile_matches_signatures(spark, sf_dir):
    """The streaming-safe profile (scan-side array folds) must agree with
    the batch signature pipeline on every document: same distinct hash
    sets (as sets) and — since the band values are md5 over the same
    minima — identical band arrays to what minhash_lsh_pairs bands. This
    is the contract that lets a stream probe a batch-built index."""
    from pyspark.sql import functions as F

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.dedup import (
        minhash_doc_profile, minhash_signatures,
    )
    docs = cat_table(spark, sf_dir, "documents").limit(100)
    prof = {r.doc_id: r for r in minhash_doc_profile(docs).collect()}
    sigs = {r.doc_id: r for r in minhash_signatures(docs).collect()}
    assert set(prof) == set(sigs) and prof
    import hashlib
    for doc_id, p in prof.items():
        s = sigs[doc_id]
        mh = [s[f"mh{i}"] for i in range(8)]
        # bands = md5("mh0|mh1"), md5("mh2|mh3"), ... — identical to the
        # oracle/_LSH_CTES banding
        want = [hashlib.md5(f"{mh[b*2]}|{mh[b*2+1]}".encode()).hexdigest()
                for b in range(4)]
        assert p["__bands"] == want


def test_gopher_rules_battery(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) trips on a doc crafted to
    fail exactly it (plus the word-count side effects of the single-line
    injection cases); the clean doc passes the combined gate."""
    from kafka_streams_examples_spark.operators.text import gopher_rules

    w = [f"word{i:02d}" for i in range(58)]
    rows = [
        # 60 words, 2 stopwords, derived lines get 1 bullet + 1 ellipsis
        (0, " ".join(["the", "of"] + w)),
        (1, "the of tiny doc fails word count rule here now"),   # 10 words
        (2, " ".join(["the", "of"] + ["x" * 12] * 58)),          # mean len
        (3, " ".join(["the", "of"] + ["#"] * 10 + w[:48])),      # symbols
        (4, " ".join(["the"] + w + ["extra"])),                  # 1 stopword
        (6, " ".join(["the", "of"] + ["123"] * 15 + w[:43])),    # alpha
        # single derived line; (5+0)%5==0 injects the ellipsis suffix
        (5, " ".join(w[:12])),
        # single derived line; (7+0)%7==0 injects the bullet prefix
        (7, " ".join(w[:12])),
        (8, ""),   # zero words: ratios zero, no ANSI divide-by-zero
    ]
    got = {r["doc_id"]: r for r in gopher_rules(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert got[0]["kept"] and got[0]["stopword_hits"] == 2
    assert got[0]["frac_bullet_lines"] == 0.2   # i=0 of 5 lines
    assert got[0]["frac_ellipsis_lines"] == 0.2
    assert not got[1]["rule_word_count"] and got[1]["rule_stopwords"]
    assert not got[2]["rule_word_len"] and got[2]["mean_word_len"] > 10
    assert not got[3]["rule_symbols"] and got[3]["rule_alpha"]
    assert not got[4]["rule_stopwords"] and got[4]["rule_word_count"]
    assert not got[6]["rule_alpha"] and got[6]["rule_symbols"]
    assert not got[5]["rule_ellipsis"] and got[5]["rule_bullets"]
    assert not got[7]["rule_bullets"] and got[7]["rule_ellipsis"]
    assert (got[8]["n_words"], got[8]["mean_word_len"],
            got[8]["symbol_ratio"]) == (0, 0.0, 0.0)
    assert all(not got[i]["kept"] for i in (1, 2, 3, 4, 5, 6, 7, 8))


def test_cluster_quota_sample_caps_each_learned_stratum(spark):
    """The quota binds per CLUSTER: a dominant blob is capped while small
    blobs survive whole, sizes are reported, and the hash order makes the
    pick deterministic."""
    from kafka_streams_examples_spark.operators.sampling import (
        cluster_quota_sample)

    # blob A: 8 points around (0,0); blob B: 3 points around (10,10);
    # ids interleaved so the two seeds (lowest ids) start one-per-blob
    pts = {0: [0.0, 0.0], 1: [10.0, 10.0], 2: [0.2, 0.0],
           3: [10.2, 10.0], 4: [0.0, 0.2], 5: [10.0, 10.2],
           6: [0.1, 0.1], 7: [0.2, 0.2], 8: [0.1, 0.0],
           9: [0.0, 0.1], 10: [0.2, 0.1]}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts.items()],
        "vec_id long, embedding array<double>")
    rows = cluster_quota_sample(df, k=2, iters=2, quota=4).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert len(by_cluster) == 2
    # blob A: 8 members, capped at 4 sampled; blob B: 3 of 3 survive
    # (keyed by reported cluster size — the hash sample need not retain
    # any particular id)
    sizes = sorted((v[0]["n_in_cluster"], len(v))
                   for v in by_cluster.values())
    assert sizes == [(3, 3), (8, 4)]
    assert all(1 <= r["rn"] <= 4 for r in rows)
    again = {(r["vec_id"], r["rn"])
             for r in cluster_quota_sample(df, k=2, iters=2, quota=4)
             .collect()}
    assert again == {(r["vec_id"], r["rn"]) for r in rows}


def test_routed_kmeans_matches_exact_on_separated_blobs(spark):
    """With well-separated blobs the coarse-cell routed assign is exact:
    every vector's probed cells contain its true nearest centroid, so
    codebook and assignment come out bit-identical to the brute path."""
    from kafka_streams_examples_spark.operators.similarity import _kmeans_fit

    pts = {0: [0.0, 0.0], 1: [10.0, 10.0], 2: [-10.0, 5.0], 3: [5.0, -9.0],
           4: [0.2, 0.0], 5: [10.2, 10.0], 6: [-10.2, 5.0], 7: [5.2, -9.0],
           8: [0.0, 0.2], 9: [10.0, 10.2], 10: [-10.0, 5.2], 11: [5.0, -8.8]}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts.items()],
        "vec_id long, embedding array<double>")
    _, exact = _kmeans_fit(df, k=4, iters=2)
    _, routed = _kmeans_fit(df, k=4, iters=2, routed=True)
    ex = {r["vec_id"]: (r["cid"], r["d"]) for r in exact.collect()}
    ro = {r["vec_id"]: (r["cid"], r["d"]) for r in routed.collect()}
    assert ex == ro


def test_routed_kmeans_agreement_on_corpus(spark, sf_dir):
    """On the real fixture with k=8/k1=4/probes=2 — the ADVERSARIAL
    setting: isotropic data gives routing no cluster structure to
    exploit, and probing 2 of 4 cells covers only half the centroid
    space — the routed approximation still agrees with the exact
    assignment for the large majority of vectors (measured 0.754;
    bound 0.7). The production setting (semantic_dedup, k > 64) probes
    2 of ~sqrt(2k) cells whose contents ARE the cluster structure, and
    near-dup PAIRS co-route regardless (their cell distances are
    nearly identical), which is the property dedup needs. Determinism
    across calls holds."""
    from kafka_streams_examples_spark.operators.similarity import kmeans_train
    from kafka_streams_examples_spark.catalog import table as cat_table

    emb = cat_table(spark, sf_dir, "embeddings")
    ex = {r["vec_id"]: r["cluster"]
          for r in kmeans_train(emb, k=8, iters=2).collect()}
    ro = {r["vec_id"]: r["cluster"]
          for r in kmeans_train(emb, k=8, iters=2, routed=True).collect()}
    assert set(ex) == set(ro)
    agree = sum(ex[i] == ro[i] for i in ex) / len(ex)
    assert agree >= 0.7, agree
    ro2 = {r["vec_id"]: r["cluster"]
           for r in kmeans_train(emb, k=8, iters=2, routed=True).collect()}
    assert ro == ro2
    # the property semantic_dedup needs: near-dup PAIRS co-cluster as
    # often under routing as under exact assignment (measured 806 vs
    # 782 co-clustered of the fixture's cos>=0.25 pairs)
    import numpy as np
    pdf = emb.select("vec_id", "embedding").toPandas()
    V = np.array([np.array(x, dtype=float) for x in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    iu = np.triu_indices(len(ids), 1)
    m = (Vn @ Vn.T)[iu] >= 0.25
    prs = list(zip(ids[iu[0][m]], ids[iu[1][m]]))
    co_ex = sum(ex[a] == ex[b] for a, b in prs)
    co_ro = sum(ro[a] == ro[b] for a, b in prs)
    assert co_ro >= 0.9 * co_ex, (co_ro, co_ex)


def test_routed_kmeans_codebook_never_decays(spark, sf_dir):
    """The routed trainer's empty-cluster guard: a fine centroid whose
    every member mis-routes in a rescue-free training pass must keep its
    previous position instead of vanishing from the codebook (k decaying
    data-dependently). Unit-checks the guard directly — cid 2 missing
    from the means update comes back at its previous centroid — and then
    asserts the cardinality invariant end-to-end at the most adversarial
    routed setting (probes=1 on isotropic data, k1 < k)."""
    from kafka_streams_examples_spark.operators.similarity import (
        _fill_empty_clusters, _kmeans_fit)
    from kafka_streams_examples_spark.catalog import table as cat_table

    prev = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [2.0, 2.0]),
         (3, [3.0, 3.0])],
        "cid long, cent array<double>")
    new = spark.createDataFrame(
        [(0, [0.1, 0.1]), (1, [1.1, 1.1]), (3, [3.1, 3.1])],
        "cid long, cent array<double>")
    got = {r["cid"]: list(r["cent"])
           for r in _fill_empty_clusters(prev, new).collect()}
    assert got == {0: [0.1, 0.1], 1: [1.1, 1.1],
                   2: [2.0, 2.0], 3: [3.1, 3.1]}

    emb = cat_table(spark, sf_dir, "embeddings")
    cb, _ = _kmeans_fit(emb, k=32, iters=3, routed=True, route_probes=1)
    cids = [r["cid"] for r in cb.select("cid").collect()]
    assert sorted(cids) == list(range(32))


def test_gopher_rules_matches_python_reference(spark):
    """Column-for-column agreement with a plain-Python replica of the
    battery (floor-rounding included) on a seeded random corpus that
    exercises every rule boundary (short/long docs, symbol runs,
    numeric tokens, stopword-rich and stopword-free vocab)."""
    import math
    import random

    from kafka_streams_examples_spark.operators.text import (
        GOPHER_STOPWORDS, gopher_rules)

    rng = random.Random(81)
    vocab = (["the", "of", "and", "with", "word", "table", "scan", "12345",
              "###", "x" * 14, "ab"] + [f"tok{i}" for i in range(20)])
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 120))))
            for i in range(60)]

    def fl4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    def ref(doc_id, text):
        ws = [w for w in text.lower().split() if w]
        n = len(ws)
        n_lines = max(1, math.ceil(n / 12))
        lines = []
        for i in range(n_lines):
            ln = " ".join(ws[i * 12:(i + 1) * 12])
            if (doc_id + i) % 7 == 0:
                ln = "- " + ln
            if (doc_id + i) % 5 == 0:
                ln = ln + "..."
            lines.append(ln)
        joined = "\n".join(lines)
        # non-overlapping left-to-right '...' matches, like regexp_count
        n_sym = joined.count("#") + len(
            [m for m in __import__("re").finditer(r"\.\.\.", joined)])
        return {
            "n_words": n,
            "mean_word_len": fl4(sum(map(len, ws)) / n),
            # the battery's predicate is ASCII [a-z] on both engines —
            # NOT Unicode isalpha(); keep the reference identical
            "frac_alpha_words": fl4(
                sum(bool(__import__("re").search("[a-z]", w))
                    for w in ws) / n),
            "symbol_ratio": fl4(n_sym / n),
            "frac_bullet_lines": fl4(
                sum(l.startswith("- ") for l in lines) / len(lines)),
            "frac_ellipsis_lines": fl4(
                sum(l.endswith("...") for l in lines) / len(lines)),
            "stopword_hits": len(set(ws) & set(GOPHER_STOPWORDS)),
        }

    got = {r["doc_id"]: r for r in gopher_rules(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    for doc_id, text in rows:
        expect = ref(doc_id, text)
        for col, val in expect.items():
            assert got[doc_id][col] == val, (doc_id, col,
                                             got[doc_id][col], val)


def test_soft_dedup_keep_policy(spark, sf_dir):
    """Soft dedup's contract: (a) singleton clusters ALWAYS survive
    (bucket < 1e6 div 1 unconditionally), (b) the keep draw is exactly
    the documented md5 arithmetic (replicated in plain Python per row),
    (c) byte-identical re-runs, (d) cluster_size agrees with the
    cluster assignment it rode in on."""
    import hashlib

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.dedup import soft_dedup

    rows = soft_dedup(cat_table(spark, sf_dir, "documents")).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert len({m.cluster_size for m in members}) == 1
        assert members[0].cluster_size == len(members)
        if len(members) == 1:
            assert members[0].kept == 1, cid
    for r in rows[:50]:
        h = int(hashlib.md5(f"soft|{r.doc_id}".encode())
                .hexdigest()[:15], 16) % 1_000_000
        assert r.keep_bucket == h
        assert r.kept == int(h < 1_000_000 // r.cluster_size)
    again = {(r.doc_id, r.kept)
             for r in soft_dedup(
                 cat_table(spark, sf_dir, "documents")).collect()}
    assert again == {(r.doc_id, r.kept) for r in rows}


def test_hard_negatives_label_mismatch_and_route(spark, sf_dir):
    """Hard-negative mining: every returned negative has a label
    different from its query's (by construction of the foreign-cell
    route — no post-filter), ranks are a dense 1..k per query, the
    negatives come from at most nprobe distinct labels per query, and
    within the probed blocks the ranking is exactly cosine-descending
    (checked against numpy on the fixture)."""
    import numpy as np

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        hard_negatives,
    )

    emb = cat_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = hard_negatives(q, emb, k=5, nprobe=2).collect()
    labels = {r.vec_id: r.label
              for r in emb.select("vec_id", "label").collect()}
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r)
    assert set(per_q) == {r.vec_id for r in q.select("vec_id").collect()}
    for q_id, rs in per_q.items():
        assert sorted(r.rnk for r in rs) == list(range(1, len(rs) + 1))
        assert all(r.neg_label != labels[q_id] for r in rs)
        assert len({r.neg_label for r in rs}) <= 2  # nprobe=2 blocks
        # cosine-descending with id tiebreak
        sims = [(r.cos_sim, r.c_id) for r in sorted(rs, key=lambda r: r.rnk)]
        assert sims == sorted(sims, key=lambda t: (-t[0], t[1]))
    # spot-check top-1 against numpy within the probed blocks
    pdf = emb.toPandas()
    V = {int(r.vec_id): np.array(r.embedding, dtype=float)
         for r in pdf.itertuples()}
    for q_id in list(per_q)[:5]:
        probed = {r.neg_label for r in per_q[q_id]}
        cands = [(vid, float(np.dot(V[q_id], V[vid])
                             / (np.linalg.norm(V[q_id])
                                * np.linalg.norm(V[vid]))))
                 for vid, lab in labels.items() if lab in probed]
        best = max(cands, key=lambda t: (round(t[1], 4), -t[0]))
        top1 = min(per_q[q_id], key=lambda r: r.rnk)
        assert abs(top1.cos_sim - round(best[1], 4)) < 2e-4, (q_id, best)


def test_knn_graph_edges(spark, sf_dir):
    """kNN graph: every vector gets up to k=3 edges, all edges stay
    inside the vector's label block, ranks are dense 1..deg, and the
    per-vector neighbor set equals numpy's within-block cosine top-3."""
    import numpy as np

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import knn_graph

    emb = cat_table(spark, sf_dir, "embeddings")
    rows = knn_graph(emb, k=3).collect()
    pdf = emb.toPandas()
    lab = dict(zip(pdf.vec_id, pdf.label))
    V = {int(r.vec_id): np.array(r.embedding, dtype=float)
         for r in pdf.itertuples()}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    assert set(per_q) == set(lab)  # every vector has edges (blocks > 3)
    for q_id, rs in list(per_q.items())[:40]:
        assert sorted(r.rnk for r in rs) == list(range(1, len(rs) + 1))
        assert all(lab[r.c_id] == lab[q_id] for r in rs)
        block = [v for v in lab if lab[v] == lab[q_id] and v != q_id]
        sims = sorted(
            ((round(float(np.dot(V[q_id], V[c])
                          / (np.linalg.norm(V[q_id])
                             * np.linalg.norm(V[c]))), 4), c)
             for c in block), key=lambda t: (-t[0], t[1]))[:3]
        got = [(r.cos_sim, r.c_id) for r in sorted(rs, key=lambda r: r.rnk)]
        for (ws, wc), (gs, gc) in zip(sims, got):
            assert abs(ws - gs) < 2e-4 and (wc == gc or abs(ws - gs) < 2e-4)


def test_knn_graph_bucketed_corpus_joins_without_exchange(spark, sf_dir,
                                                          tmp_path):
    """knn_graph's 100 TB claim, substantiated: with the corpus written
    BUCKETED by the block key (label), the label self-join co-locates —
    the executed plan contains a SortMergeJoin with NO shuffle exchange
    feeding it (bucketed scan on both sides), and the edges are
    byte-identical to the un-bucketed plan's."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import knn_graph

    emb = cat_table(spark, sf_dir, "embeddings")
    name = "emb_bucketed_r9"
    (emb.write.mode("overwrite").format("parquet")
        .bucketBy(8, "label").sortBy("label")
        .saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the claim is about the NON-broadcast regime (at 100 TB neither
        # side broadcasts); at fixture scale AQE would broadcast, so
        # force the shuffle-family join the big corpus would get
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed = spark.table(name)
        out = knn_graph(bucketed, k=3)
        got = {(r.q_id, r.c_id, r.cos_sim, r.rnk) for r in out.collect()}
        # inspect the FINAL adaptive plan (AQE decides the join physical
        # op only after execution)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), \
            plan[:600]
        # the claim: no shuffle exchange feeds the join — the bucketed
        # scan satisfies the join's distribution requirement on both
        # sides (the only allowed exchange is the top-k Window's)
        assert "Exchange hashpartitioning(__lb" not in plan, plan[:2000]
        assert "SelectedBucketsCount" in plan
        want = {(r.q_id, r.c_id, r.cos_sim, r.rnk)
                for r in knn_graph(emb, k=3).collect()}
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_label_silhouette_replica(spark, sf_dir):
    """label_silhouette vs a numpy replica: own/foreign centroid cosines,
    argmax-with-min-label tie-break, margin arithmetic, suspect flag.
    (On this synthetic fixture most vectors ARE suspects — the labels
    are weakly separable by construction; the operator reports that
    faithfully rather than assuming clean labels.)"""
    import numpy as np

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        label_silhouette,
    )

    emb = cat_table(spark, sf_dir, "embeddings")
    rows = {r.vec_id: r for r in label_silhouette(emb).collect()}
    pdf = emb.toPandas()
    lab = dict(zip(pdf.vec_id, pdf.label))
    V = {int(r.vec_id): np.array(r.embedding, dtype=float)
         for r in pdf.itertuples()}
    assert set(rows) == set(lab)
    cents = {}
    for i, l in lab.items():
        cents.setdefault(l, []).append(V[i])
    cents = {l: np.mean(vs, axis=0) for l, vs in cents.items()}

    def q6(x):
        import math
        return math.floor(x * 1e6 + 0.5) / 1e6

    checked_suspects = 0
    for i in list(rows)[:60]:
        r = rows[i]
        s = {l: q6(float(np.dot(V[i], c)
                         / (np.linalg.norm(V[i]) * np.linalg.norm(c))))
             for l, c in cents.items()}
        own = s[lab[i]]
        best = max(v for l, v in s.items() if l != lab[i])
        blb = min(l for l, v in s.items() if l != lab[i] and v == best)
        assert abs(r.own_sim - round(own, 4)) < 2e-4
        assert abs(r.foreign_sim - round(best, 4)) < 2e-4
        assert r.foreign_label == blb
        assert r.suspect == (1 if own < best else 0)
        assert abs(r.margin - (r.own_sim - r.foreign_sim)) < 1e-12
        checked_suspects += r.suspect
    assert 0 < checked_suspects  # fixture labels are weak; flags fire


def test_ivf_index_persisted_equals_inline(spark, sf_dir, tmp_path):
    """build_ivf_index + query_ivf_index (the parquet write-once path)
    must return exactly what the oracle-verified inline composition
    (incremental_knn) returns — same codebook, same routing, same
    rerank, so the registry parity transfers to the persisted path."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        build_ivf_index, incremental_knn, query_ivf_index,
    )

    emb = cat_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 7)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(corpus, path, kclusters=8, iters=2)
    got = {(r.q_id, r.c_id, r.cos_sim, r.rnk)
           for r in query_ivf_index(spark, path, new, k=5,
                                    nprobe=2).collect()}
    want = {(r.q_id, r.c_id, r.cos_sim, r.rnk)
            for r in incremental_knn(new, corpus, k=5, nprobe=2,
                                     kclusters=8, iters=2).collect()}
    assert got == want and got


def test_ivf_index_routing_reads_zero_corpus_bytes(spark, sf_dir,
                                                   tmp_path):
    """The incremental promise: routing a new batch touches ONLY the
    k-row codebook — the plan's file scans must not include the
    vectors (corpus) side of the index at all — and the full query's
    vectors scan is partition-pruned on cid."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        _route_to_codebook, build_ivf_index, query_ivf_index,
    )

    emb = cat_table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 7)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(corpus, path, kclusters=8, iters=2)

    cents = spark.read.parquet(f"{path}/codebook")
    routed = _route_to_codebook(new, cents, 2, "vec_id", "embedding")
    files = routed.inputFiles()
    # the routing plan reads the batch's own rows and the k-row
    # codebook — never the index's corpus-vector files
    assert any("codebook" in f for f in files)
    assert not any("/vectors/" in f for f in files)
    assert routed.count() > 0

    full = query_ivf_index(spark, path, new, k=5, nprobe=2)
    fplan = full._jdf.queryExecution().executedPlan().toString()
    # the vectors scan is keyed on the cid partition column and Spark
    # dynamic partition pruning narrows it to the probed buckets (plan
    # paths truncate under pytest's long tmp dirs, so pin the pruning
    # expression rather than the directory name)
    assert "PartitionFilters: [isnotnull(cid" in fplan
    assert "dynamicpruningexpression(cast(cid" in fplan
    assert full.count() > 0


def test_label_silhouette_single_label_emits_zero_rows(spark):
    """Degenerate single-label corpus: no foreign centroid exists, so
    there is no margin to report — zero rows, matching the oracle's
    inner joins (ADVICE r10: the Spark side used to emit nulls here)."""
    from kafka_streams_examples_spark.operators.similarity import (
        label_silhouette,
    )

    one = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.5, 0.5], 7), (3, [0.0, 1.0], 7)],
        "vec_id int, embedding array<double>, label int")
    assert label_silhouette(one).count() == 0


def test_semantic_prune_keepers(spark, sf_dir):
    """semantic_prune (the knn_graph consumer): covers every vector
    exactly once, keeps exactly one member per cluster, the keeper is
    the member LEAST similar to its label centroid (ties to lower id),
    and components match a python union-find over the >= eps edges."""
    import numpy as np

    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        knn_graph, semantic_prune)

    emb = cat_table(spark, sf_dir, "embeddings")
    rows = semantic_prune(emb, k=3, eps=0.35).collect()
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    assert sorted(r.vec_id for r in rows) == sorted(ids)

    # python union-find over the same thresholded edge list
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = [(r.q_id, r.c_id) for r in knn_graph(emb, k=3).collect()
             if r.cos_sim >= 0.35]
    assert edges, "eps=0.35 must leave a nontrivial graph on this fixture"
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in ids}
    got_cluster = {r.vec_id: r.cluster_id for r in rows}
    assert got_cluster == comp

    # exactly one keeper per cluster; keeper = min (cent_sim, vec_id);
    # n_members consistent
    pdf = emb.toPandas()
    lab = dict(zip(pdf.vec_id, pdf.label))
    V = {int(r.vec_id): np.array(r.embedding, dtype=float)
         for r in pdf.itertuples()}
    cents = {}
    for i in ids:
        cents.setdefault(lab[i], []).append(V[i])
    cents = {l: np.mean(vs, axis=0) for l, vs in cents.items()}
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    sizes = {c: len(rs) for c, rs in by_cluster.items()}
    assert any(s > 1 for s in sizes.values())  # nontrivial clusters exist
    for c, rs in by_cluster.items():
        assert sum(r.kept for r in rs) == 1
        assert all(r.n_members == sizes[c] for r in rs)
        keeper = min(rs, key=lambda r: (r.cent_sim, r.vec_id))
        assert next(r for r in rs if r.kept == 1).vec_id == keeper.vec_id
        for r in rs[:10]:
            v, ce = V[r.vec_id], cents[lab[r.vec_id]]
            want = float(np.dot(v, ce)
                         / (np.linalg.norm(v) * np.linalg.norm(ce)))
            assert abs(r.cent_sim - round(want, 4)) < 2e-4


def test_build_ivf_index_default_kclusters_scales_sqrt_n(spark, sf_dir,
                                                         tmp_path):
    """The scale-safe default (VERDICT r11): an IVF index built without
    an explicit k sizes its codebook ~sqrt(n) (the FAISS convention),
    so the mean bucket stays sqrt(n) as the corpus grows instead of
    degrading to linear scans under a never-re-sized constant k. The
    explicit-k override must still pin the codebook exactly."""
    import math
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators.similarity import (
        auto_kclusters, build_ivf_index,
    )

    emb = cat_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    n = corpus.count()
    want_k = max(8, int(round(math.sqrt(n))))
    assert auto_kclusters(corpus) == want_k

    path = str(tmp_path / "ivf_auto")
    build_ivf_index(corpus, path)
    assert spark.read.parquet(f"{path}/codebook").count() == want_k

    pinned = str(tmp_path / "ivf_pinned")
    build_ivf_index(corpus, pinned, kclusters=8)
    assert spark.read.parquet(f"{pinned}/codebook").count() == 8


def test_max_dup_spans_boundaries_and_threshold(spark):
    """The boundary surface of the exact-substring family: a duplicated
    run of M >= min_len tokens comes back as one (start, end) pair with
    exact end-exclusive offsets; merged-but-short spans are filtered by
    the Lee et al. minimum-length threshold AFTER the merge."""
    from kafka_streams_examples_spark.operators.dedup import max_dup_spans
    run = "alpha beta gamma delta epsilon zeta"          # 6-token run
    docs = spark.createDataFrame(
        [(0, f"{run} filler0 one two three four extra"),
         # 6-run duplicated at offset 2; 4 tokens of the other run
         # duplicated at offset 10 (merged span of 4 < min_len 6)
         (1, f"x1 x2 {run} y1 y2 one two three four z9"),
         (2, "totally unique tokens only here q w e r t")],
        ["doc_id", "text"])
    got = [(r.doc_id, r.span_start, r.span_end, r.span_len)
           for r in max_dup_spans(docs, l=4, min_len=6).collect()]
    assert got == [(1, 2, 8, 6)]
    # with the threshold at the gram size, the short span surfaces too
    got4 = sorted((r.doc_id, r.span_start, r.span_end, r.span_len)
                  for r in max_dup_spans(docs, l=4, min_len=4).collect())
    assert got4 == [(1, 2, 8, 6), (1, 10, 14, 4)]


def test_use_routed_assign_gate_boundary():
    """The shared assign-cost predicate (semantic_dedup + the IVF
    builders): exact at or below 50M n*k folds, routed above."""
    from kafka_streams_examples_spark.operators.similarity import (
        ROUTED_FOLD_GATE, use_routed_assign,
    )
    assert not use_routed_assign(2000, 8)              # oracle SFs
    assert not use_routed_assign(ROUTED_FOLD_GATE, 1)  # boundary: exact
    assert use_routed_assign(ROUTED_FOLD_GATE + 1, 1)
    assert use_routed_assign(200_000, 800)             # the sf10 shape


def test_incremental_knn_default_routes_above_gate(spark, sf_dir,
                                                   monkeypatch):
    """incremental_knn's auto-k default must switch its training
    passes to coarse-cell routing above the fold gate (r13: without
    this the k ~ sqrt(n) default trains in n^1.5 — SCALE10 measured
    the auto-k decade step at 24x). Forcing the gate to 0 exercises
    the routed path on the fixture: same output contract (<= k rows
    per query, valid buckets) and majority top-k agreement with the
    exact default — routing only perturbs training-time bucket
    membership, and the sf0.001 fixture is the ADVERSARIAL setting
    (isotropic data, probing 2 of ~sqrt(2k)=6 cells; measured 0.576,
    the test_routed_kmeans_agreement_on_corpus calibration one k-tier
    up; production k-tiers route over cells that ARE the cluster
    structure)."""
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators import similarity as SIM

    emb = cat_table(spark, sf_dir, "embeddings")
    new = emb.filter("vec_id % 10 = 7")
    corpus = emb.filter("vec_id % 10 != 7")
    exact = SIM.incremental_knn(new, corpus, k=5, nprobe=2).collect()
    monkeypatch.setattr(SIM, "ROUTED_FOLD_GATE", 0)
    routed = SIM.incremental_knn(new, corpus, k=5, nprobe=2).collect()
    from collections import Counter
    per_q = Counter(r["q_id"] for r in routed)
    assert per_q and max(per_q.values()) <= 5
    assert {r["q_id"] for r in routed} == {r["q_id"] for r in exact}
    e = {(r["q_id"], r["c_id"]) for r in exact}
    r_ = {(r["q_id"], r["c_id"]) for r in routed}
    agree = len(e & r_) / len(e)
    assert agree >= 0.5, agree


def test_pinned_k_never_routes_and_shares_sizing_formula(spark, sf_dir,
                                                         monkeypatch,
                                                         tmp_path):
    """ADVICE r13: (a) the routed-training gate belongs to the auto-k
    n^1.5 exposure only — an EXPLICIT kclusters is deterministic (the
    exact bit-identical assign, no gate evaluation, no extra counting
    job) even when the fold gate would fire; (b) the √n sizing formula
    is single-sourced in auto_kclusters_from_count, shared by
    auto_kclusters and both builders."""
    import math
    from kafka_streams_examples_spark.catalog import table as cat_table
    from kafka_streams_examples_spark.operators import similarity as SIM

    # (b) one formula, all callers
    for n in (3, 64, 2_000, 123_457):
        assert SIM.auto_kclusters_from_count(n) == \
            max(8, int(round(math.sqrt(n))))

    emb = cat_table(spark, sf_dir, "embeddings")
    new = emb.filter("vec_id % 10 = 7")
    corpus = emb.filter("vec_id % 10 != 7")
    baseline = sorted(map(tuple, SIM.incremental_knn(
        new, corpus, k=5, nprobe=2, kclusters=8).collect()))

    # (a) with the gate forced wide open AND the predicate booby-trapped,
    # the pinned-k paths must neither consult it nor change output
    monkeypatch.setattr(SIM, "ROUTED_FOLD_GATE", 0)

    def _boom(n, k):
        raise AssertionError("routed gate evaluated on a pinned-k path")
    monkeypatch.setattr(SIM, "use_routed_assign", _boom)
    pinned = sorted(map(tuple, SIM.incremental_knn(
        new, corpus, k=5, nprobe=2, kclusters=8).collect()))
    assert pinned == baseline
    SIM.build_ivf_index(corpus, str(tmp_path / "ivf_pin"), kclusters=8)
    assert spark.read.parquet(
        str(tmp_path / "ivf_pin/codebook")).count() == 8


def test_dedup_recall_shared_tokens_parity(spark, sf_dir):
    """dedup_recall feeds ONE materialized (doc_id, tokens) relation to
    all three detectors (r15). The toks_col path must produce exactly
    the rows of the standalone tokenize for every detector."""
    from kafka_streams_examples_spark.functions import tokens
    from kafka_streams_examples_spark.operators.dedup import (
        simhash_hamming_pairs,
    )
    docs = table(spark, sf_dir, "documents")
    toksed = docs.select("doc_id", tokens("text").alias("__toks"))
    for fn, kw in (
        (ngram_jaccard_pairs, {"n": 3, "threshold": 0.2}),
        (minhash_lsh_pairs, {"num_hashes": 8, "bands": 4,
                             "jaccard_threshold": 0.2}),
        (simhash_hamming_pairs, {"bits": 32, "bands": 4, "max_hamming": 3}),
    ):
        std = {tuple(r) for r in fn(docs, **kw).collect()}
        shared = {tuple(r)
                  for r in fn(toksed, toks_col="__toks", **kw).collect()}
        assert std == shared, f"{fn.__name__} diverged under toks_col"
