"""Measure the scale-sensitive queries across sf0.01 / sf0.1 / sf1 and
write SCALE_r{N}.json — the evidence that wall time grows ~linearly in SF
(the 100 TB design claim, measured instead of argued).

sf1 comes from tools/scale_data.py (density-preserving 10x of sf0.1).
Each query runs twice per SF (min-of-2, same methodology as bench.py) with
a noop sink. The report carries, per query, wall seconds per SF plus the
step ratios r_01_to_1 = t(0.1)/t(0.01) and r_1_to_10 = t(1)/t(0.1); with
10x data per step, a ratio well above 10 that keeps growing marks a
super-linear plan (CC's O(rounds) term and fixed per-job overhead at tiny
SFs are the two documented distortions: overhead makes small-SF ratios
LOOK sub-linear).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_examples_spark.registry import QUERIES
from kafka_streams_examples_spark.session import get_spark

# the queries whose 100 TB story depends on sub-quadratic pair/iteration
# behavior, plus the shuffle-heavy TPC-H shapes
CURVE = [
    "dedup_clusters", "dedup_clusters_star",
    "minhash_lsh_pairs", "simhash_hamming_pairs",
    "ngram_jaccard_capped", "embedding_lsh_pairs", "embedding_near_dup",
    "knn_ivf", "global_shuffle", "music_charts",
    "tpch_q9", "tpch_q18", "tpch_q21",
    # r5 additions (candidate-driven containment; linear bigram explode)
    "decontaminate", "repetition_stats",
    # r5 late additions (scan-side regex cascade; iterative broadcast
    # assignment; composed train->route->rerank)
    "pii_redact", "kmeans_train", "knn_ivf_trained", "knn_multiprobe",
    "unigram_surprisal", "dedup_keep_best", "semantic_dedup",
    "pack_sequences",
    # r5 third session (vocabulary-aggregate iteration; single-scan mixture;
    # codes-not-vectors ADC serving; composed coarse-route + ADC)
    "bpe_train", "bpe_fertility", "source_mixture", "pq_knn", "knn_ivfpq",
    "exact_substring_dedup", "dsir_score",
    # r6 additions (composed recall gauge over all ANN tiers; composed
    # score -> threshold -> manifest pipeline)
    "knn_recall", "dsir_resample",
    # r7 addition (the ladder over the in-query clustered fixture)
    "knn_recall_clustered",
    # r8 additions (asymmetric batch-vs-index band join; CC + portable
    # cluster-hash split)
    "incremental_dedup", "leakage_split", "dedup_recall",
    # r8 addition (scan-speed Gopher rule battery — the flat-cost floor
    # of the text family; a super-linear step here would mean the scan
    # itself regressed)
    "gopher_rules",
    # r8 addition (k-means training + per-cluster WindowGroupLimit quota)
    "cluster_sample",
    # r9 additions (cluster-hash probabilistic keep; foreign-cell IVF
    # route + rerank)
    "soft_dedup", "knn_hard_negatives", "knn_graph", "vocab_stats",
    # r10 additions (broadcast merge-fold corpus encode; knn_graph ->
    # CC -> centroid-ranked keep; encode composed with the two-phase
    # packer; scan-side centroid-silhouette label QC)
    "bpe_encode", "semantic_prune", "pack_sequences_bpe",
    "label_silhouette", "exact_substring_apply", "curriculum_order",
    # r11 additions (vocabulary-scale Viterbi-EM trainer; word-memoized
    # corpus encode over a 1-row broadcast; stored-codebook route +
    # bucket-confined rerank on a corpus-trained index). r13: the
    # incremental_knn row measures the DEFAULT auto-k composition
    # (OVERRIDES below) — the registry query pins k=8 for its oracle,
    # and a pinned codebook under 10x data growth re-measures the
    # fixture, not the plan (the 31x row of `git show 2faeba1:SCALE10_r12.json`
    # vs the 6.8x default of `git show 2faeba1:DECADECTRL_r12.json`; VERDICT r12 item 5)
    "unigram_lm_train", "unigram_encode", "incremental_knn_auto",
    # r11 second wave (inverted-index BM25 on the worst-case uniform
    # vocabulary — postings volume is linear in corpus size, so the
    # exact tier must scale ~10x per decade while the pruned tier's
    # SERVING join is bounded by r_eff * |terms| candidates; hash-keyed
    # line dedup; bigram-model train + score joins)
    "bm25_topk", "bm25_pruned", "line_dedup", "nb_quality_filter",
    # r11 third wave (pruned-index ingest gate — candidacy bounded per
    # arriving doc; rank fusion of two bounded tiers; two linear scans
    # with the sample aggregation between; the composed datasheet)
    "bm25_gate", "hybrid_rrf", "quantile_sketch", "corpus_report",
    # r11 late addition (KN-smoothed bigram joins, the bigram_surprisal
    # plan with two extra bigram-TYPE-table aggregations)
    "kn_surprisal",
    # r12 additions: the join-fallback encode/score paths (the same
    # corpus scans with the memoized word/weight table applied by a
    # hash-partitioned equi-join instead of a broadcast map — the
    # open-vocabulary form must scale like its broadcast twin); the
    # trigram KN tier; maximal dup-span boundaries; the composed
    # ingest funnel (gopher+line+NB chained scan + gate probe + anti
    # join)
    "bpe_encode_join", "unigram_encode_join", "nb_filter_join",
    "kn3_surprisal", "max_dup_spans", "ingest_funnel",
    # r13 additions: the production KN order through the parameterized
    # ladder (8 type-scale joins, one occurrence probe); the bounded
    # (bucket-hashed) NB model — same plan as nb_quality_filter with
    # the hash folded into the tokenize scan
    "kn5_surprisal", "nb_filter_hashed",
    # r14 addition: the PRUNED 5-gram ladder (count>1 at the top
    # order, lower levels derived from the pruned table) — its row vs
    # kn5_surprisal's is the measured type-table reduction the
    # verdict asked to evidence (VERDICT r13 item 6)
    "kn5_pruned",
]

def _incremental_knn_auto(spark, sf_dir):
    """The incremental-ANN DEFAULT composition: kclusters=None ->
    auto_kclusters ~ sqrt(n) (operators/similarity.py) — the form a
    deployment actually runs, and the only form whose decade step
    measures the PLAN (a pinned k=8 codebook under 10x data growth
    makes buckets 10x bigger by construction)."""
    from pyspark.sql import functions as F

    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.operators import similarity as SIM
    emb = table(spark, sf_dir, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 7)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    return SIM.incremental_knn(new, corpus, k=5, nprobe=2, iters=2)


# rows measured through a non-registry composition; each carries an
# inline note so the committed table is self-explaining
OVERRIDES = {
    "incremental_knn_auto": {
        "fn": _incremental_knn_auto,
        "note": "registry query incremental_knn with kclusters=None "
                "(auto ~ sqrt(n), the operator default) instead of the "
                "oracle-pinned k=8 — the pinned-k SCALE10_r12 row read "
                "31x/decade from fixture bucket growth; since r13 the "
                "default also gates its training passes on "
                "use_routed_assign (n*k > 50M folds -> coarse-cell "
                "routed assign), which took the sf10 cell from 333s "
                "exact to 39s routed (3.5x/decade)",
    },
}


SFS = [("0.01", "/root/testdata/sf0.01"),
       ("0.1", "/root/testdata/sf0.1"),
       ("1", ".scale/sf1")]

# the next decade (r8): .scale/sf10 = tools/scale_data.py with 100
# replicas; measured only for the dedup/ANN families whose 100 TB story
# the verdict asked to evidence one rung higher (--sf10 flag)
SFS_10 = [("0.1", "/root/testdata/sf0.1"),
          ("1", ".scale/sf1"),
          ("10", ".scale/sf10")]
CURVE_10 = ["dedup_clusters", "dedup_clusters_star", "minhash_lsh_pairs",
            "simhash_hamming_pairs", "knn_ivf_trained",
            "exact_substring_dedup",
            # r9 additions
            "soft_dedup", "knn_graph", "knn_hard_negatives",
            # r10 addition (the knn_graph consumer inherits its block
            # confinement; the CC loop adds round-count-bound work)
            "semantic_prune",
            # r11 additions (word-memoized encode: corpus scan + the
            # vocabulary-scale EM; stored-codebook route + bucket
            # rerank — graded as the auto-k default, see CURVE note)
            "unigram_encode", "incremental_knn_auto",
            # r11 second wave (exact inverted-index BM25 on the
            # worst-case uniform vocabulary — postings scored per query
            # grow linearly with the corpus; the pruned tier's serving
            # join stays candidate-bounded; hash-keyed line dedup)
            "bm25_topk", "bm25_pruned", "line_dedup",
            # r11 third wave (bigram-model joins under the 10x/decade
            # vocabulary growth; the composed datasheet)
            "nb_quality_filter", "corpus_report",
            # r12 additions: the join-path encodes under the new
            # zipf-bounded fixture vocabulary (the decade where the
            # broadcast-vs-join crossover matters); trigram KN; the
            # composed ingest funnel
            "bpe_encode_join", "unigram_encode_join", "nb_filter_join",
            "kn3_surprisal", "ingest_funnel",
            # r13 additions (the 5-gram type ladder under decade
            # growth; the fixed-size hashed NB model)
            "kn5_surprisal", "nb_filter_hashed",
            # r14 addition (the pruned ladder one decade up — the
            # enrichment joins' build sides are the count>1 subset)
            "kn5_pruned"]


def main(out_path: str = "SCALE_r05.json", only: list[str] | None = None,
         sfs: list[tuple[str, str]] = SFS) -> None:
    """Measure CURVE (or just `only`) and write/merge the report: when
    `only` is given and out_path exists, rows merge into it so a new
    operator's curve lands without re-running the whole family."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    import bench
    disk_start = bench.disk_probe()     # storage regime (r14)
    spark = get_spark("scale-curve", cpus=cpus)
    QUERIES["tpch_q1"].spark(spark, sfs[0][1]).count()          # warmup
    # warm the canary's own noop-write path too: r10's canaries read
    # spread 2.4-3.2 purely from the FIRST sample paying JIT/codegen
    # warm-up (first 0.57-0.82s vs a 0.23-0.26s session-warm floor on a
    # clean box), which made the spread gauge cry co-tenant when there
    # was none — two unmeasured writes remove most of that bias (one
    # still left ~1.55: C2 compilation lags the first execution)
    for _ in range(2):
        QUERIES["tpch_q1"].spark(spark, SFS[1][1]) \
            .write.format("noop").mode("overwrite").save()

    # Load-honesty telemetry: SCALE_r06 (`git show 2faeba1:SCALE_r06.json`) recorded
    # dedup_clusters at a 7.29x sf1 step that did not reproduce (2.2x on
    # an idle box, same code + fixture) and carried nothing to show the
    # run was loaded. loadavg at both ends + a first/last canary let a
    # reader separate machine load from plan change without re-running.
    load_start = os.getloadavg()

    def canary() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            QUERIES["tpch_q1"].spark(spark, SFS[1][1]) \
                .write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    canary_first = canary()

    report: dict[str, dict] = {}
    extra_sections: dict = {}
    if only and os.path.exists(out_path):
        with open(out_path) as f:
            prior = json.load(f)
        report = prior.get("queries", {})
        # preserve sections other tools merged into this artifact (the
        # streaming replay from tools/stream_bench.py --scale): an
        # `only` re-measure of a few queries must not clobber them —
        # r8 bug, SCALE_r08's streaming section was silently dropped
        # and had to be restored from git (`git show 2faeba1:SCALE_r08.json`)
        extra_sections = {k: v for k, v in prior.items()
                          if k not in ("method", "cpus", "loadavg",
                                       "idle_wait_sec", "canary",
                                       "disk_mb_s", "queries")}
    for name in (only or CURVE):
        row: dict = {}
        fn = OVERRIDES[name]["fn"] if name in OVERRIDES \
            else QUERIES[name].spark
        for sf, sf_dir in sfs:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                fn(spark, sf_dir) \
                    .write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            row[f"sec_sf{sf}"] = round(best, 3)
            print(f"{name} sf{sf}: {best:.2f}s", flush=True)
        if sfs is SFS:   # historical key names (`git show 2faeba1:SCALE_r05.json` on)
            row["r_01_to_1"] = round(row["sec_sf0.1"] / row["sec_sf0.01"], 2)
            row["r_1_to_10"] = round(row["sec_sf1"] / row["sec_sf0.1"], 2)
        else:            # sf10 decade: each key names its 10x step
            row["r_1_to_10"] = round(row["sec_sf1"] / row["sec_sf0.1"], 2)
            row["r_10_to_100"] = round(row["sec_sf10"] / row["sec_sf1"], 2)
        if name in OVERRIDES:
            row["note"] = OVERRIDES[name]["note"]
        report[name] = row

    canary_last = canary()
    load_end = os.getloadavg()
    disk_end = bench.disk_probe()
    payload = {
        "method": "min-of-2 noop-sink wall per SF; sf1 = density-preserving "
                  "10x of sf0.1 (tools/scale_data.py); 10x data per step, "
                  "so step ratio ~<=10 = at-most-linear",
        "cpus": cpus,
        "loadavg": {"start": [round(x, 2) for x in load_start],
                    "end": [round(x, 2) for x in load_end]},
        "disk_mb_s": {"start": disk_start, "end": disk_end},
        "canary": {"query": "tpch_q1", "sf": "0.1",
                   "first_sec": round(canary_first, 3),
                   "last_sec": round(canary_last, 3),
                   "spread": round(max(canary_first, canary_last)
                                   / min(canary_first, canary_last), 3)},
        "queries": report,
        **extra_sections,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    argv = sys.argv[1:]
    sf10 = "--sf10" in argv
    if sf10:
        argv.remove("--sf10")
        # sf10 joins build runtime hash tables the default 8g driver
        # heap cannot hold (tpch_q21 measured a broadcast OOM); local
        # mode hosts every "executor's" broadcast copy in one JVM, so
        # size the heap for the decade unless the caller already did
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    main(argv[0] if argv else "SCALE_r06.json",
         only=(argv[1:] or (CURVE_10 if sf10 else None)),
         sfs=SFS_10 if sf10 else SFS)
