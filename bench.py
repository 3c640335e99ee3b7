"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": "headline", "value": total_sec, "unit": "sec",
"queries": {name: sec}, "streaming": {pipeline: rows_per_sec}, "sf": ...}.

Each query runs to the noop sink, min-of-2, after a warm-up that absorbs JVM/
codegen startup. The "streaming" section times the file-stream replay
pipelines. Totals swing with host load, so speed is measured with
`perfbench/`, which imports `disk_probe` from here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_streams_examples_spark.registry import QUERIES
from kafka_streams_examples_spark.session import get_spark

# Headline set: one representative per operator family, weighted toward the
# scale-sensitive ones (joins, windows, dedup, ANN).
#
# ROTATION POLICY (r10, wire-budget cap): the printed bench line must fit
# the driver's ~2000-char stdout tail (contract-tested at 1700 worst-case),
# which caps HEADLINE at its current 61 names. Adding a query to HEADLINE
# therefore requires rotating one out, newest-in/oldest-out among
# REDUNDANT family members only — prefer dropping signature-builders whose
# composed consumer stays (e.g. minhash_signature -> minhash_lsh_pairs /
# dedup_clusters cover the same plan prefix), never the sole
# representative of a family. Rotated-out queries keep full correctness
# coverage (registry + parity gate) and SCALE decades; they only leave the
# per-round wire line. test_headline_cap pins the cap; the existing
# wire-budget test pins the consequence.
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "music_charts",
    "pageview_region",
    "order_validation",
    "wordcount",
    "fk_chain",
    "ktable_latest",
    "stream_stream_join",
    "asof_join",
    "session_windows",
    "hopping_6h",
    "topk_revenue",
    "dedup_ttl",
    "exact_dedup",
    # r10 rotation: minhash_signature and simhash (signature-builders)
    # rotated out for bpe_encode and semantic_prune (their composed
    # consumers minhash_lsh_pairs / dedup_clusters /
    # simhash_hamming_pairs stay in the line)
    # ngram_jaccard here is the UNCAPPED exact inverted-index variant:
    # cost is sum over shingles of df^2, i.e. quadratic in the longest
    # posting list. Safe at this fixture's shingle skew ONLY —
    # tests/test_fixture_shape.py pins max posting-list length at sf0.1
    # so a fixture change that would blow this up fails loudly instead
    # of silently dominating the bench. ngram_jaccard_capped / the LSH
    # family are the declared 100 TB scale paths.
    "ngram_jaccard",
    "knn_cosine",
    "knn_ivf",
    "embedding_near_dup",
    "embedding_lsh_pairs",
    "minhash_lsh_pairs",
    "simhash_hamming_pairs",
    "dedup_clusters",
    "cms_estimate",
    "stratified_sample",
    # r11 rotation: quality_score (scan-speed text battery — its cost
    # shape stays timed by repetition_stats / pii_redact /
    # unigram_surprisal) rotated out for bm25_topk, the sole wire
    # representative of the new sparse-retrieval family (exact
    # inverted-index scoring; the pruned tier shares its plan prefix)
    "bm25_topk",
    "media_features",
    # r4 additions: anti/semi TPC-H shapes + chunking/shuffle/novelty ops
    "tpch_q18",
    "tpch_q21",
    "doc_chunks",
    "bigram_novelty",
    "global_shuffle",
    # r5 additions: decontamination + repetition quality signals,
    # PII scrubbing, IVF codebook training
    "decontaminate",
    "repetition_stats",
    "pii_redact",
    # (r11: incremental_knn stays OFF the wire — its kmeans + route +
    # bucket-rerank cost shape is already timed by knn_ivf_trained, and
    # swapping kmeans_train for the longer name would bust the 1700-char
    # wire budget; full parity + SCALE coverage unaffected)
    "kmeans_train",
    "knn_multiprobe",
    "unigram_surprisal",
    "semantic_dedup",
    "pack_sequences",
    "knn_ivf_trained",
    "dedup_keep_best",
    "bigram_surprisal",
    # r5 third session: tokenizer training + data mixing + PQ/IVFPQ ANN
    # r11 rotation: bpe_train (merge trainer) rotated out for
    # unigram_encode — bpe_encode (staying) carries the full BPE
    # trainer lineage, and unigram_encode carries the unigram-LM
    # trainer's, so both tokenizer paradigms' training stays timed
    "unigram_encode",
    "source_mixture",
    "pq_knn",
    "knn_ivfpq",
    "exact_substring_dedup",
    "dsir_score",
    # r8 additions: incremental (batch-vs-index) dedup and the
    # dedup-aware train/val/test split
    "incremental_dedup",
    "leakage_split",
    "dedup_recall",
    # r12 rotation: gopher_rules (scan-speed rule battery) rotated out
    # for ingest_funnel — the composed ingest path TIMES the identical
    # gopher battery inside its chained scan (plus the line filter, NB
    # scoring and the BM25 gate probe), and repetition_stats/pii_redact
    # keep the standalone scan-battery cost shape on the wire
    "ingest_funnel",
    # r8 addition: cluster-balanced subsampling (learned-strata quota —
    # the diversity-preserving curation shape; k-means + WindowGroupLimit)
    "cluster_sample",
    # r9 additions: probabilistic keep-1-of-cluster resampling and
    # DPR-style ANN-mined hard negatives (foreign-cell IVF route)
    "soft_dedup",
    "knn_hard_negatives",
    # r9 addition: block-confined all-corpus kNN graph (label self-join)
    "knn_graph",
    # r9 addition: per-source vocabulary profile (distinct-heavy rollup)
    "vocab_stats",
    # r10 rotations in (see policy above): corpus-wide BPE tokenization
    # (broadcast merge-fold, zero corpus shuffles) and SemDeDup-style
    # knn_graph consumer (thresholded edges -> CC -> centroid-ranked keep)
    "bpe_encode",
    "semantic_prune",
]


# Streaming bench pipelines — locked by tests/test_contracts.py so a
# refactor cannot silently drop one (BENCH r3 set the baseline).
STREAMING_PIPELINES = ("wordcount", "windowed_counts", "session_counts",
                       "dedup_ttl", "interval_join", "fraud_check",
                       "ordered_concat", "pack_sequences",
                       "stream_near_dup", "gopher_gate")


def stream_cases(spark, sf_dir: str) -> dict:
    """Build the streaming-bench pipeline table:
    {name: (build_fn, output_mode, rows_in)}, timed by stream_bench."""
    from pyspark.sql import functions as F

    from kafka_streams_examples_spark.catalog import table
    from kafka_streams_examples_spark.streaming.core import stream_table
    from kafka_streams_examples_spark.streaming.dedup import dedup_stream
    from kafka_streams_examples_spark.streaming.pipelines import (
        interval_join_stream, session_counts, streaming_gopher_gate,
        streaming_wordcount, windowed_counts,
    )
    from kafka_streams_examples_spark.streaming.stateful import (
        fraud_check, ordered_concat, pack_sequences_stream,
    )

    from kafka_streams_examples_spark.functions import tokens

    # wordcount's work unit is the post-flatMap token (each word is one
    # record after flatMapValues, WordCountLambdaExample.java:197) — r4
    # reported 2.7k rows/s vs 46-70k siblings purely because the
    # denominator counted pre-explode documents (5k docs vs 270k tokens at
    # sf0.1); the pipeline itself moves >100k tokens/s
    n_tokens = (table(spark, sf_dir, "documents")
                .select(F.explode(tokens(F.col("text")))).count())
    n_events = table(spark, sf_dir, "events").count()
    ev = lambda: stream_table(spark, sf_dir, "events")  # noqa: E731

    # stream_near_dup's static side: the corpus band index, materialized
    # HERE so its (batch) build cost never lands in a probe sample
    from kafka_streams_examples_spark.streaming.dedup import (
        near_dup_index, stream_near_dup,
    )
    docs_b = table(spark, sf_dir, "documents")
    n_docs = docs_b.count()
    n_new_docs = docs_b.filter(F.col("doc_id") % 10 == 7).count()
    _snd_index = (near_dup_index(docs_b.filter(F.col("doc_id") % 10 != 7))
                  .localCheckpoint(eager=False))
    _snd_index.count()

    cases = {
        "wordcount": (
            lambda: streaming_wordcount(stream_table(spark, sf_dir, "documents")),
            "complete", n_tokens),
        "windowed_counts": (lambda: windowed_counts(ev()), "append",
                            n_events),
        "session_counts": (lambda: session_counts(ev()), "append",
                           n_events),
        "dedup_ttl": (
            lambda: dedup_stream(ev().select("event_id", "ts"), ["event_id"]),
            "append", n_events),
        # self-join on the unique event id (1:1 match) so the stream-stream
        # join machinery is timed without a fan-out-dependent output size
        "interval_join": (
            lambda: interval_join_stream(
                ev().select(F.col("event_id").alias("l_key"),
                            F.col("ts").alias("l_ts")),
                ev().select(F.col("event_id").alias("r_key"),
                            (F.col("ts") + F.expr("INTERVAL 30 SECONDS"))
                            .alias("r_ts")),
                "key"),
            "append", n_events),
        # applyInPandasWithState path: sequential session spend per
        # customer, folded one hash bucket of customers per Python call
        # (streaming/stateful.py:fraud_fold)
        "fraud_check": (
            lambda: fraud_check(
                ev().select(F.col("user_id").cast("string").alias("customer"),
                            F.col("event_id").cast("string").alias("order_id"),
                            F.col("value").alias("order_value"),
                            F.col("ts")),
                limit=1000.0),
            "update", n_events),
        # event-time-ordered per-key fold (A3 streaming analog): state grows
        # with events/key, so this times the sort-merge-state path
        "ordered_concat": (
            lambda: ordered_concat(
                ev().select("event_id", "ts", "user_id", "event_type")),
            "update", n_events),
        # per-source token-tape packing (one long of state per source;
        # numpy span explode): work unit = the packed token
        "pack_sequences": (
            lambda: pack_sequences_stream(
                stream_table(spark, sf_dir, "documents").select(
                    "doc_id", "source",
                    F.size(F.filter(tokens(F.col("text")),
                                    lambda x: x != ""))
                     .cast("long").alias("n_tokens")),
                budget=256),
            "append", n_tokens),
        # stream-static near-dup probe (streaming half of the batch
        # incremental_dedup query): arriving docs compute scan-side
        # minhash profiles and LSH-probe a batch-built corpus band
        # index — entirely STATELESS (stream-static equi-join + per-row
        # array_intersect verify). The index is materialized before
        # timing: its build cost is the batch pass, not probe
        # throughput; work unit = one probed document.
        "stream_near_dup": (
            lambda: stream_near_dup(
                stream_table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % 10 == 7),
                _snd_index, threshold=0.2),
            "append", n_new_docs),
        # ingest-time Gopher quality gate: STATELESS scan-side rule
        # battery (pure Column exprs, no state store, append mode) —
        # times the decode+filter throughput a raw-corpus intake runs
        # at; work unit = one gated document
        "gopher_gate": (
            lambda: streaming_gopher_gate(
                stream_table(spark, sf_dir, "documents")),
            "append", n_docs),
    }
    assert set(cases) == set(STREAMING_PIPELINES), "update STREAMING_PIPELINES"
    return cases


def stream_bench(spark, sf_dir: str, only: list[str] | None = None,
                 n_samples: int = 3) -> dict:
    """Streaming throughput: replay sf tables as file-stream micro-batches
    through the smoke pipelines (wordcount / windows / sessions / dedup /
    stream-stream join) and report rows/sec — the commit-interval
    throughput analog (WordCountLambdaExample.java:170-174).

    Every pipeline runs at the session's streaming width (session.get_spark
    owns it: 1, so one state store per stateful operator and the Python
    folds on one worker), recorded per row as `shuffle_partitions`. `only`
    restricts to a pipeline subset; `n_samples` trades sampling robustness
    for wall time (default 3; 2 at sf10 where one sample is minutes)."""
    from kafka_streams_examples_spark.streaming.core import run_to_memory

    cases = stream_cases(spark, sf_dir)
    if only:
        cases = {n: cases[n] for n in only}
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out: dict[str, dict] = {}
    for name, (build, mode, rows_in) in cases.items():
        # min-of-3 (was min-of-2 through r7): micro-batch trigger
        # scheduling makes single streaming runs swing 3-6x run-to-run
        # — r8 measured fraud_check 75k vs 45k rows/s on back-to-back
        # idle-box min-of-2 runs; a third sample costs ~1s per pipeline
        # and strips most of the remaining swing
        samples = []
        for _ in range(n_samples):
            t0 = time.time()
            _, q = run_to_memory(build(), mode=mode)
            samples.append(round(time.time() - t0, 3))
            q.stop()
        best = min(samples)
        # all three samples recorded: BENCH r8 caught one process where
        # the applyInPandasWithState pipelines ran 3x slow on EVERY
        # sample (`git show 2faeba1:BENCH_SELF_r08_run6.json`) while an
        # isolated rerun was normal — with only the min recorded, a reader can't tell
        # "one slow sample" from "the whole process was degraded"
        out[name] = {"wall_sec": best,
                     "rows_per_sec": round(rows_in / best, 1),
                     "rows_in": rows_in,
                     "samples_sec": samples,
                     "shuffle_partitions": parts}
    return out


def _run_once(name, spark, sf_dir: str) -> float:
    t0 = time.time()
    df = QUERIES[name].spark(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def disk_probe(size_mb: int = 256, passes: int = 2,
               dir: str | None = None) -> dict:
    """Direct fsync'd sequential-write throughput probe (VERDICT r13
    item 2, ROUND13_NOTES forensics §5): the container's block volume
    has VARIABLE write throughput — 512 MiB fsync'd probes measured
    121-628 MB/s across consecutive minutes — and loadavg/steal/iowait
    cannot see it, yet shuffle spill, localCheckpoint blocks and
    streaming state checkpoints all live on that volume, so
    disk-heavy queries swing 1.4-2x round-over-round while scan-bound
    rows hold steady. Recording this number at both ends of every
    BENCH/BENCH_SELF run gives the reader the mechanical normalizer
    the r13 dip forensics had to re-derive by hand: compare totals
    only between runs whose probes read the same regime, and lean on
    disk-light rows otherwise.

    Writes `passes` files of `size_mb` MiB of incompressible bytes
    (ext4 here doesn't compress, but a probe should not depend on
    that) with one fsync each, on the same volume as the Spark local/
    checkpoint dirs (everything is /dev/vda in this container);
    reports per-pass MB/s plus best. ~1-5s total at the measured
    regimes. Override size with $SPARK_GRAFT_DISK_PROBE_MB (0 skips —
    returns None — for tests/CI that must not burn I/O)."""
    env = os.environ.get("SPARK_GRAFT_DISK_PROBE_MB")
    if env is not None:
        size_mb = int(env)
    if size_mb <= 0:
        return None
    import tempfile
    blk_mb = min(8, size_mb)
    block = os.urandom(blk_mb << 20)
    rates = []
    for _ in range(passes):
        fd, p = tempfile.mkstemp(suffix=".diskprobe", dir=dir)
        try:
            t0 = time.time()
            with os.fdopen(fd, "wb") as f:
                for _ in range(max(1, size_mb // blk_mb)):
                    f.write(block)
                f.flush()
                os.fsync(f.fileno())
            rates.append(round(size_mb / (time.time() - t0), 1))
        finally:
            os.unlink(p)
    return {"size_mb": size_mb, "passes_mb_s": rates,
            "best_mb_s": max(rates)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    spark = get_spark("bench", cpus=cpus)

    # warmup: JVM + codegen + parquet footer caches + the noop-write
    # committer path. FOUR noop runs, not one: the C2 JIT keeps compiling
    # scan/agg hot paths through the first few plan executions
    QUERIES["tpch_q1"].spark(spark, sf_dir).count()
    for _ in range(4):
        _run_once("tpch_q1", spark, sf_dir)

    # min-of-2: warm caches + strip one load spike
    timings = {name: min(_run_once(name, spark, sf_dir) for _ in range(2))
               for name in HEADLINE}
    streaming = stream_bench(spark, sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # compact separators and 2-decimal seconds: the line must fit the
    # ~2000-char stdout tail its reader keeps (tests/test_contracts.py)
    print(json.dumps({
        "metric": "headline",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "streaming": {n: int(round(row["rows_per_sec"]))
                      for n, row in streaming.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
