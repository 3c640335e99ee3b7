"""Repo-wide physical-plan invariants over every registry query.

These are the plan properties the 100 TB design depends on, enforced as a
regression gate rather than asserted in prose:

1. No CartesianProduct anywhere — an accidental all-pairs join is the
   classic silent scale-killer.
2. BroadcastNestedLoopJoin only where a provably tiny side is broadcast by
   design (documented allowlist below).
3. No row-at-a-time Python evaluation (BatchEvalPython) — Python is allowed
   only through Arrow-batched paths (ArrowEvalPython / mapInPandas), and
   only in the multimodal codec queries.
"""

import pytest

from kafka_streams_examples_spark.registry import QUERIES

# BNLJ is the *correct* plan when one side is tiny and there is no equi-key:
BNLJ_BY_DESIGN = {
    # 1-row corpus-size scalar attached via broadcast cross join
    "tfidf_top_terms",
    # brute-force baseline: the bounded query set (20 vectors) broadcasts
    # against the corpus by definition of exhaustive search
    "knn_cosine",
    # IVF routing: every corpus vector scores against the broadcast
    # centroid set (small by construction) to pick nprobe buckets
    "knn_ivf",
    # same routing shape, query side vs the broadcast centroid table
    # (with the query's own cell excluded from the route)
    "knn_hard_negatives",
    # 1-row scalar-average subquery attached via broadcast cross join
    # before the threshold filter (TPC-H Q22's correlated scalar)
    "tpch_q22",
    # 1-row global-total re-aggregation broadcast against the grouped
    # result it came from (TPC-H Q11's group-vs-global HAVING)
    "tpch_q11",
    # Lloyd's assignment step: the k-row (k*dim doubles) centroid table
    # broadcasts against the corpus scan each iteration by construction
    "kmeans_train",
    # cluster-balanced sampling embeds the same Lloyd's assignment step
    "cluster_sample",
    # composed trained-IVF pipeline: kmeans assignment (above) + IVF
    # centroid routing (knn_ivf's broadcast centroid set)
    "knn_ivf_trained",
    # 1-row corpus-total scalar attached via broadcast cross join before
    # the per-token probability (same shape as tfidf_top_terms)
    "unigram_surprisal",
    # same 1-row corpus-total broadcast in the backoff term
    "bigram_surprisal",
    # ADC lookup tables: each query scores every m*16-entry subspace
    # codebook (a tiny broadcast) to build its partial-distance table;
    # corpus-side scoring itself is equi-joins on the codes
    "pq_knn",
    # same ADC tables + the coarse routing (each query scores the
    # broadcast coarse-centroid set to pick nprobe cells)
    "knn_ivfpq",
    # 1-row corpus/target-total broadcast attached to the bucket LM table
    # (the unigram_surprisal shape)
    "dsir_score",
    # corpus-wide BPE encode: the learned state attaches as ONE 1-row
    # broadcast (K-row merge table folded to an array + the symbol->id
    # map) cross-joined onto the scan — the tfidf_top_terms shape; the
    # trainer's own per-merge winner attach rides in the same plan
    "bpe_encode",
    # packs bpe_encode's counts — inherits the same 1-row codec broadcast
    "pack_sequences_bpe",
    # label QC: the k-row centroid table folds into a 1-row broadcast
    # array scored scan-side (the kmeans_train broadcast size)
    "label_silhouette",
    # composes the four allowlisted ANN tiers above (brute's broadcast
    # query set, IVF centroid routing, ADC lookup tables) plus its own
    # 1-row denominator broadcast; the recall overlay itself is an
    # equi-join on (q_id, c_id)
    "knn_recall",
    # the same composed ladder over the in-query clustered fixture — the
    # extra work is one scan-side array transform, no new join shapes
    "knn_recall_clustered",
    # dsir_score's 1-row totals broadcast plus the 1-row exact-percentile
    # threshold broadcast (selection without a global sort)
    "dsir_resample",
    # unigram-LM trainer: the per-EM-round piece state is a 1-row
    # broadcast map cross-joined onto the vocabulary-scale word table
    # (the bpe_encode codec shape), plus the 1-row total for prob
    "unigram_lm_train",
    # encode = the same trainer plus the word->ids memoization map, both
    # 1-row broadcasts onto vocabulary-scale and corpus scans
    "unigram_encode",
    # kmeans assignment step (the kmeans_train shape) + the stored k-row
    # codebook broadcast the new batch routes against
    "incremental_knn",
    # BM25: the 1-row corpus-stats broadcast (n_docs, avgdl) attaches to
    # the vocabulary-sized df table before idf — the tfidf_top_terms
    # 1-row scalar shape; scoring itself is word-keyed equi-joins
    "bm25_topk",
    # same stats broadcast + the 1-row adaptive r_eff bound broadcast
    # against the ranked postings (the auto_refine scalar pattern)
    "bm25_pruned",
    # composes both BM25 tiers above; the recall overlay itself is an
    # equi-join on (q_id, c_id)
    "bm25_recall",
    # NB model state: the 1-row class-totals / doc-counts / prior
    # broadcasts attach to the vocabulary-sized weight table and the
    # per-doc sums — the dsir_score 1-row totals shape
    "nb_quality_filter",
    # the same shape over the bucket-hashed (bounded) feature table
    "nb_filter_hashed",
    # fuses knn_cosine (allowlisted broadcast query set) with bm25_topk
    # (allowlisted 1-row stats broadcast); the fusion join itself is a
    # (q_id, c_id) equi-join of two k-row-per-query lists
    "hybrid_rrf",
    # the same 1-row stats + adaptive r_eff broadcasts as bm25_pruned,
    # under the gate's stream-static probe composition
    "bm25_gate",
    # datasheet assembly: the 1-row vocabulary / boiler-rate aggregates
    # broadcast-join onto the 1-row doc-level aggregate before stack
    "corpus_report",
    # the 1-row bigram-type-count broadcast in the continuation term
    # (the unigram_surprisal corpus-total shape)
    "kn_surprisal",
    # the same 1-row type-count broadcast, one order up
    "kn3_surprisal",
    # and at the production order (the parameterized kn_ngram step)
    "kn5_surprisal",
    # the pruned ladder keeps the same 1-row type-count broadcast
    "kn5_pruned",
    # join-fallback encode paths: the BOUNDED 1-row codec (merge array /
    # piece map / scalar prior) still attaches by broadcast onto the
    # vocabulary-scale word table — the unbounded per-word/weight table
    # itself goes through the shuffle_hash equi-join (asserted by
    # test_join_fallback_paths_never_broadcast_the_word_table)
    "bpe_encode_join",
    "unigram_encode_join",
    "nb_filter_join",
    # composed ingest path: the boiler/NB 1-row codecs broadcast onto
    # the arriving scan (the apply_line_filter/apply_nb shapes) plus
    # bm25_gate's allowlisted stats/r_eff broadcasts
    "ingest_funnel",
}
# semantic_dedup embeds the kmeans assignment step, but its training
# branch is materialized (localCheckpoint) before the CC loop runs, so
# the FINAL plan carries no BNLJ — it must NOT be allowlisted (the
# rot-check would rightly flag it).


@pytest.fixture(scope="module")
def plans(spark):
    sf = "/root/testdata/sf0.001"
    out = {}
    for name, spec in QUERIES.items():
        df = spec.spark(spark, sf)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == []


def test_bnlj_only_where_designed(plans):
    offenders = [n for n, p in plans.items()
                 if "BroadcastNestedLoopJoin" in p and n not in BNLJ_BY_DESIGN]
    assert offenders == []
    # and the allowlist must not rot: entries that stop using BNLJ should
    # be removed so the gate stays tight
    stale = [n for n in BNLJ_BY_DESIGN
             if "BroadcastNestedLoopJoin" not in plans[n]]
    assert stale == []


def test_join_fallback_paths_never_broadcast_the_word_table(plans):
    """The open-vocabulary encode/score paths exist precisely because
    the per-word / per-feature table is unbounded — their corpus-scale
    application join must be a shuffle join (the shuffle_hash hint took
    effect), never a BroadcastHashJoin that would re-introduce the
    broadcast-budget ceiling the path is there to avoid."""
    for n in ("bpe_encode_join", "unigram_encode_join", "nb_filter_join"):
        assert "ShuffledHashJoin" in plans[n], \
            f"{n}: word-table join not shuffle-partitioned"


def test_no_row_at_a_time_python(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == []


def test_arrow_python_only_in_multimodal(plans):
    arrow_users = {n for n, p in plans.items()
                   if "ArrowEvalPython" in p or "MapInPandas" in p
                   or "FlatMapGroupsInPandas" in p}
    # multimodal decode + the sequential reservation machine are the only
    # sanctioned Python islands; everything else must stay JVM-side
    assert arrow_users <= {"media_features", "frame_sample",
                           "inventory_reservation"}
