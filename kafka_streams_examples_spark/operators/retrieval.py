"""Sparse lexical retrieval (BM25) over the document corpus — the
sparse counterpart of the dense ANN ladder in
:mod:`operators/similarity.py`.

A training-data pipeline needs lexical retrieval next to embedding
retrieval: retrieval-based decontamination, targeted corpus slicing
("every document matching this eval query"), and hybrid dense+sparse
curation all start from a BM25 top-k. Two tiers, mirroring the
brute/IVF split of the ANN family:

- :func:`bm25_topk` — the exact baseline: every posting of every query
  term is scored. Distributed shape: the classic sharded inverted
  index — term-frequency and document-frequency tables are built by
  word-keyed aggregations (linear in token volume, the wordcount
  shuffle), and scoring is an equi-join of query terms against the
  postings table keyed by word. Nothing is ever quadratic in the
  corpus: cost = total postings touched by the query terms, which at
  100 TB with a zipfian vocabulary is the standard sparse-retrieval
  workload (the fixture's 31-word vocabulary makes every posting list
  corpus-length — the worst case — and the plan is still linear).

- :func:`bm25_pruned` — static impact-ordered index pruning (the
  Carmel et al. SIGIR'01 family, the WAND-lite scale path): because a
  document's BM25 score is a sum of per-term impacts that depend only
  on (term, document), the index can be pruned OFFLINE to the top-R
  highest-impact postings per term. Serving then touches at most
  R * |query terms| candidate documents per query — corpus-size
  independent, the sparse analog of IVF probing — and exact-reranks
  only those candidates via keyed joins back to the full postings
  table. :func:`bm25_recall` grades the pruned tier against the exact
  baseline (the knn_recall pattern).

Determinism contract (mirrored verbatim in the registry oracles):
idf is quantized ONCE per term to integer micro-nats
(``floor(ln(1 + (N - df + 0.5)/(df + 0.5)) * 1e6 + 0.5)``) — the only
transcendental, applied at vocabulary scale, never per posting. The
per-posting impact multiplies that integer (as double) by the exact
IEEE tf-saturation ratio and quantizes straight back to an integer, so
per-document scores are INTEGER sums — no float-accumulation order
dependence anywhere (the dsir_score / bigram_surprisal pattern).
Ranking ties break on the raw integer score then ascending doc id.

Reference parity: the reference tokenizes streams for counting only
(WordCountLambdaExample.java:72-75); retrieval is part of the
beyond-reference LLM-pipeline tier (SURVEY.md §7.1 item 12; inventory
in COVERAGE.md).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import tokens

#: BM25 constants (Robertson et al., the canonical defaults).
K1 = 1.2
B = 0.75


def _doc_tokens(docs: DataFrame) -> DataFrame:
    return (docs.select(F.col("doc_id").alias("doc_id"),
                        F.explode(tokens("text")).alias("word"))
                .filter(F.col("word") != ""))


def postings(docs: DataFrame) -> DataFrame:
    """The scored inverted index: (word, doc_id, tf, w6) where ``w6``
    is the document's integer micro-nat BM25 impact for the term.

    Built from three linear word/doc-keyed aggregations (tf, dl, df)
    plus a 1-row corpus-stats broadcast (N, avgdl). This is the
    write-once table a production deployment persists bucketed by
    ``word`` (the incremental_dedup band-index precedent).
    """
    tk = _doc_tokens(docs)
    tf = tk.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double"))
        .alias("avgdl"))
    df_t = tf.groupBy("word").agg(F.count("*").alias("df"))
    # idf quantized once per TERM (vocabulary scale): integer micro-nats.
    # r15: the idf6/w6 arithmetic parses as ONE selectExpr string each
    # (SQL twins of the former Column trees — D-suffixed repr literals,
    # same association; construction is py4j-round-trip-bound, guide
    # §7.3, the trainer-chain precedent)
    idf = (df_t.join(F.broadcast(stats), F.lit(True), "left")
               .selectExpr(
                   "word",
                   "CAST(floor(ln(1.0D + (CAST(n_docs AS DOUBLE) "
                   "- CAST(df AS DOUBLE) + 0.5D) "
                   "/ (CAST(df AS DOUBLE) + 0.5D)) * 1000000.0D + 0.5D) "
                   "AS BIGINT) AS idf6",
                   "avgdl"))
    # per-posting impact: exact IEEE tf-saturation ratio times the
    # integer idf, quantized straight back to an integer micro-nat
    return (tf.join(dl, "doc_id")
              .join(idf, "word")
              .selectExpr(
                  "word", "doc_id", "tf",
                  f"CAST(floor(CAST(idf6 AS DOUBLE) * "
                  f"(CAST(tf AS DOUBLE) * {K1 + 1.0!r}D "
                  f"/ (CAST(tf AS DOUBLE) + {K1!r}D * ({1.0 - B!r}D "
                  f"+ {B!r}D * (CAST(dl AS DOUBLE) / avgdl)))) "
                  f"+ 0.5D) AS BIGINT) AS w6"))


def query_terms(docs: DataFrame, n_queries: int) -> DataFrame:
    """Distinct (q_id, word) for the bounded query-document set (the
    knn_cosine convention: the ``n_queries`` smallest ids). The id
    filter pushes to the parquet scan."""
    return (_doc_tokens(docs.filter(F.col("doc_id") < n_queries))
            .distinct()
            .withColumnRenamed("doc_id", "q_id"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, c_id, s6) -> ranked top-k with the display-quantized
    score. row_number + filter compiles to WindowGroupLimit, so each
    map task forwards at most k rows per query before the shuffle."""
    w = Window.partitionBy("q_id").orderBy(F.col("s6").desc(), F.col("c_id"))
    score = F.floor(F.col("s6").cast("double") / F.lit(1e6) * F.lit(1e4)
                    + F.lit(0.5)) / F.lit(1e4)
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k)
                  .select("q_id", "c_id", score.alias("score"),
                          F.col("rnk").cast("long").alias("rnk")))


def bm25_topk(docs: DataFrame, k: int = 5, n_queries: int = 20) -> DataFrame:
    """Exact BM25 top-k: (q_id, c_id, score, rnk). Query documents are
    excluded from their own result lists (the ANN exclude_self
    contract)."""
    post = postings(docs)
    qt = query_terms(docs, n_queries)
    scored = (qt.join(post, "word")
                .filter(F.col("doc_id") != F.col("q_id"))
                .groupBy("q_id", F.col("doc_id").alias("c_id"))
                .agg(F.sum("w6").alias("s6")))
    return _topk(scored, k)


def pruned_postings(post: DataFrame, r_floor: int = 32,
                    keep_denom: int | None = 5) -> DataFrame:
    """Static impact-ordered pruning: keep the top-``r_eff`` postings
    per term by (impact desc, doc id), where r_eff comes from
    :func:`adaptive_r` over the same postings table. A vocabulary-keyed
    WindowGroupLimit plus a 1-row broadcast of the bound — each map
    task forwards at most r_eff rows per term, and the pruned index is
    at most r_eff * |vocabulary| rows (tiny, persistable). The single
    pruning step shared by :func:`bm25_pruned`,
    :func:`build_bm25_index` and :func:`bm25_gate_index`; all original
    columns pass through.

    ``keep_denom=None`` disables the adaptive fraction: the bound is
    exactly ``r_floor``, a CORPUS-SIZE-INDEPENDENT constant (no
    count-distinct job, no broadcast). This is the right mode for the
    ingest ADMISSION gate, where the arriving batch scales with the
    corpus: a fractional bound makes gate work |batch| * n/denom =
    O(n^2) (measured: the composed funnel's sf1 step blew up 34x
    before r12 switched the gate to the fixed bound), while retrieval
    tiers with a BOUNDED query set keep the recall-graded adaptive
    fraction."""
    w = Window.partitionBy("word").orderBy(F.col("w6").desc(), F.col("doc_id"))
    ranked = post.withColumn("__r", F.row_number().over(w))
    if keep_denom is None:
        return ranked.filter(F.col("__r") <= r_floor).drop("__r")
    return (ranked.join(F.broadcast(adaptive_r(post, r_floor, keep_denom)),
                        F.lit(True), "left")
                  .filter(F.col("__r") <= F.col("r_eff"))
                  .drop("__r", "r_eff"))


def adaptive_r(post: DataFrame, r_floor: int = 32,
               keep_denom: int = 5) -> DataFrame:
    """1-row (r_eff) — the per-term posting-list retention bound:
    ``greatest(r_floor, ceil(n_docs / keep_denom))``. Like
    similarity.auto_refine, the bound holds a fixed FRACTION of each
    posting list with an absolute floor: the fixture corpus draws every
    document from one 31-word vocabulary, so per-term impacts barely
    discriminate (the static-pruning worst case) and the measured
    recall@5 knee sits at ~n/5 (sf0.01 sweep: r=64 -> 0.88, r=96 ->
    1.0, committed in the registry doc). A zipfian production corpus
    keeps far less; the denominator is the tuning knob, and
    bm25_recall gauges whatever is chosen."""
    return post.agg(F.greatest(
        F.lit(r_floor).cast("long"),
        F.ceil(F.count_distinct("doc_id").cast("double")
               / F.lit(float(keep_denom))).cast("long")).alias("r_eff"))


def bm25_pruned(docs: DataFrame, k: int = 5, n_queries: int = 20,
                r_floor: int = 32, keep_denom: int = 5) -> DataFrame:
    """Pruned-index BM25: candidates come ONLY from the top-``r_eff``
    impact-ordered postings of each query term (:func:`adaptive_r`; at
    most r_eff * |terms| documents per query), then those candidates
    are exactly reranked against the full postings table via
    (doc, word)-keyed equi-joins — the IVF probe-then-rerank shape.
    Same output schema as :func:`bm25_topk`."""
    post = postings(docs)
    pruned = pruned_postings(post, r_floor, keep_denom)
    qt = query_terms(docs, n_queries)
    cands = (qt.join(pruned, "word")
               .filter(F.col("doc_id") != F.col("q_id"))
               .select("q_id", F.col("doc_id").alias("c_id"))
               .distinct())
    rerank = (cands.join(qt, "q_id")
                   .join(post.select("word", F.col("doc_id").alias("c_id"),
                                     "w6"),
                         ["word", "c_id"])
                   .groupBy("q_id", "c_id")
                   .agg(F.sum("w6").alias("s6")))
    return _topk(rerank, k)


def bm25_recall(docs: DataFrame, k: int = 5, n_queries: int = 20,
                r_floor: int = 32) -> DataFrame:
    """Recall@k of the pruned tier against the exact baseline, per
    query plus a built-in 'exact'=1.0 control row family — the
    knn_recall grading pattern, so the pruned index's quality can never
    drift unmeasured."""
    exact = bm25_topk(docs, k, n_queries) \
        .select("q_id", "c_id")
    pruned = bm25_pruned(docs, k, n_queries, r_floor) \
        .select("q_id", F.col("c_id").alias("p_id"),
                F.lit(1).alias("__hit"))
    hits = (exact.join(pruned,
                       (exact["q_id"] == pruned["q_id"])
                       & (exact["c_id"] == pruned["p_id"]), "left")
                 .select(exact["q_id"].alias("q_id"),
                         F.coalesce(F.col("__hit"), F.lit(0)).alias("hit")))
    return (hits.groupBy("q_id")
                .agg((F.sum("hit").cast("double") / F.count("*"))
                     .alias("recall_at_k"))
                .orderBy("q_id"))


# --- persisted / write-once index (the build_ivf_index precedent) ---------

#: Word-hash partition count for the persisted postings layout. A real
#: vocabulary is far too large for one partition directory per term;
#: hashing words into WB buckets keeps the directory count fixed while
#: still letting a query batch prune every bucket its terms don't hash
#: into (dynamic partition pruning at the scan).
WB_BUCKETS = 64


def _wb(word) -> "F.Column":
    from ..functions import md5_hash64
    return F.pmod(md5_hash64(word), F.lit(WB_BUCKETS)).cast("int")


def build_bm25_index(docs: DataFrame, path: str, r_floor: int = 32,
                     keep_denom: int = 5) -> None:
    """Score and PERSIST the write-once BM25 index:
    ``{path}/postings`` (word, doc_id, tf, w6 — the full scored
    inverted index, parquet-partitioned by the word-hash bucket ``wb``)
    and ``{path}/pruned`` (the impact-ordered top-r_eff serving index,
    same layout). The sparse-retrieval analog of
    :func:`similarity.build_ivf_index`: one full-corpus pass at build
    time, then every later query batch is served from these two tables
    without touching a byte of corpus text."""
    post = postings(docs).withColumn("wb", _wb(F.col("word")))
    post.write.mode("overwrite").partitionBy("wb").parquet(f"{path}/postings")
    pruned = pruned_postings(post, r_floor, keep_denom)
    pruned.write.mode("overwrite").partitionBy("wb").parquet(f"{path}/pruned")


def query_bm25_index(spark, path: str, queries: DataFrame, k: int = 5,
                     exclude_self: bool = True) -> DataFrame:
    """Serve a NEW query batch from a :func:`build_bm25_index` index:
    candidates from the pruned serving index, exact rerank against the
    full postings — identical candidate/rerank joins to
    :func:`bm25_pruned`, so oracle parity transfers to the persisted
    path verbatim (pinned by test_bm25_index_persisted_equals_inline).
    Both scans join on (wb, word), so the word-hash partition column
    prunes every bucket the query terms don't hash into. Reads ZERO
    corpus text bytes (inputFiles-tested)."""
    post = spark.read.parquet(f"{path}/postings")
    pruned = spark.read.parquet(f"{path}/pruned")
    qt = (_doc_tokens(queries)
          .distinct()
          .withColumnRenamed("doc_id", "q_id")
          .withColumn("wb", _wb(F.col("word"))))
    cand = qt.join(pruned, ["wb", "word"])
    if exclude_self:
        cand = cand.filter(F.col("doc_id") != F.col("q_id"))
    cands = cand.select("q_id", F.col("doc_id").alias("c_id")).distinct()
    rerank = (cands.join(qt, "q_id")
                   .join(post.select("wb", "word",
                                     F.col("doc_id").alias("c_id"), "w6"),
                         ["wb", "word", "c_id"])
                   .groupBy("q_id", "c_id")
                   .agg(F.sum("w6").alias("s6")))
    return _topk(rerank, k)


# --- hybrid dense + sparse fusion -----------------------------------------

def hybrid_rrf(dense: DataFrame, sparse: DataFrame, k: int = 5) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09, the standard
    hybrid-retrieval combiner): fused score = sum over tiers of
    1 / (60 + rank), 60 being the paper's constant, taking each tier's
    ranked list as-is — no score calibration across heterogeneous scales
    (cosine vs BM25 micro-nats) needed, which is exactly why RRF is the
    production default for dense+sparse curation.

    Inputs are the tiers' ranked outputs (q_id, c_id, ..., rnk). Each
    contribution quantizes to integer micro-units BEFORE the sum
    (floor(1e6/(60 + rnk) + 0.5)), so fused scores are exact
    integer sums and ties break on (fused desc, c_id) — engine-exact.
    A candidate missing from one tier contributes 0 from it. One
    (q_id, c_id)-keyed full-outer join of two k-row-per-query lists —
    cost is query-batch-bounded, corpus-size independent."""
    def contrib(col: str):
        return F.floor(F.lit(1e6)
                       / (F.lit(60.0) + F.col(col).cast("double"))
                       + F.lit(0.5)).cast("long")

    d = dense.select("q_id", "c_id", contrib("rnk").alias("__d6"))
    s = sparse.select("q_id", "c_id", contrib("rnk").alias("__s6"))
    fused = (d.join(s, ["q_id", "c_id"], "full_outer")
              .select("q_id", "c_id",
                      (F.coalesce(F.col("__d6"), F.lit(0))
                       + F.coalesce(F.col("__s6"), F.lit(0))).alias("s6")))
    w = Window.partitionBy("q_id").orderBy(F.col("s6").desc(), F.col("c_id"))
    return (fused.withColumn("rnk", F.row_number().over(w))
                 .filter(F.col("rnk") <= k)
                 .select("q_id", "c_id",
                         (F.col("s6").cast("double") / F.lit(1e6))
                         .alias("rrf_score"),
                         F.col("rnk").cast("long").alias("rnk")))


# --- ingest-time retrieval gate -------------------------------------------

def bm25_gate_index(docs: DataFrame, r_floor: int = 32,
                    keep_denom: int | None = 5) -> DataFrame:
    """The stream-probe form of the pruned index: (word, c_id, c_map)
    where ``c_map`` is the candidate document's word->impact map over
    its PRUNED postings. Carrying the map on every posting row trades
    index bytes for a stateless one-join probe; unlike stream_near_dup's
    unbounded shingle sets (which r15 moved to a second attach-join,
    guide §8), the carried map is bounded by r_floor pruning, so the
    payload-on-posting-row trade stays the right one here.

    When the probing batch scales WITH the corpus (the ingest funnel's
    day-over-day batch), pass ``keep_denom=None`` so the per-term
    candidate bound is the fixed ``r_floor`` — corpus-size-independent
    gate work (see :func:`pruned_postings`)."""
    pruned = bm25_gate_postings(docs, r_floor, keep_denom) \
        .withColumnRenamed("c_id", "doc_id")
    perdoc = (pruned.groupBy("doc_id")
                    .agg(F.map_from_entries(F.collect_list(
                        F.struct("word", "w6"))).alias("c_map")))
    return (pruned.join(perdoc, "doc_id")
                  .select("word", F.col("doc_id").alias("c_id"), "c_map"))


def bm25_gate_postings(docs: DataFrame, r_floor: int = 32,
                       keep_denom: int | None = 5) -> DataFrame:
    """The BATCH-probe form of the pruned gate index: the narrow
    (word, c_id, w6) pruned postings themselves, no carried map. r15:
    :func:`bm25_gate_batch` only ever reads a joined row's OWN impact
    (``element_at(c_map, word)`` is exactly that row's ``w6``), so for
    a batch caller the map assembly and the pruned-side self-join that
    attaches it are pure overhead — in the inline ingest funnel that
    self-join recomputed the whole postings pipeline on both sides
    (8 of the funnel plan's 16 corpus scans). The stream probe keeps
    :func:`bm25_gate_index`'s map form (its statelessness depends on
    the carried map); both index shapes score identically through
    :func:`bm25_gate_batch`."""
    post = postings(docs)
    return (pruned_postings(post, r_floor, keep_denom)
            .select("word", F.col("doc_id").alias("c_id"), "w6"))


def bm25_gate(new_docs: DataFrame, index: DataFrame, tau: float = 3.0,
              text_col: str = "text") -> DataFrame:
    """Retrieval gate AT INGEST: each arriving document probes a
    batch-built :func:`bm25_gate_index` and emits (new_id, c_id,
    score) for every indexed document whose pruned-index BM25 score
    against the new document's terms reaches ``tau`` — the
    lexical-overlap admission check (dedup / decontamination trigger)
    run BEFORE a document enters the corpus, the sparse sibling of
    streaming/dedup.py:stream_near_dup.

    Entirely STATELESS, so it runs unmodified on a streaming
    DataFrame: candidacy is one stream-static equi-join on word; the
    score is a scan-side fold of the new document's sorted distinct
    terms over the candidate's carried ``c_map`` (no aggregation
    state); a pair colliding on several shared words would emit once
    per word, so the row is kept only where the joined word is the
    FIRST of the new document's sorted terms present in ``c_map`` —
    exactly-once per pair with zero state (the stream_near_dup
    first-shared-band trick). Scores are pruned-index scores — the
    candidate-generation tier's lower-variance floor; admitted
    documents get the exact offline rerank (bm25_pruned's contract).
    """
    # floor(x*1e6 + 0.5), the repo-wide half-up convention (ADVICE r12:
    # Python round() is banker's rounding — a tau landing on an exact .5
    # micro-nat would disagree with an oracle-side floor(+0.5) threshold)
    tau6 = int(math.floor(tau * 1e6 + 0.5))
    terms = F.array_sort(F.array_distinct(
        F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                 lambda x: x != "")))
    new = (new_docs.select(F.col("doc_id").alias("new_id"),
                           terms.alias("__terms"))
                   .withColumn("word", F.explode("__terms")))
    joined = (new.join(index, "word")
                 .filter(F.col("c_id") != F.col("new_id")))
    first_shared = F.element_at(
        F.filter(F.col("__terms"),
                 lambda t: F.element_at(F.col("c_map"), t).isNotNull()), 1)
    s6 = F.aggregate(
        F.col("__terms"), F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(F.element_at(F.col("c_map"), t),
                                        F.lit(0).cast("long")))
    return (joined.filter(F.col("word") == first_shared)
                  .withColumn("__s6", s6)
                  .filter(F.col("__s6") >= tau6)
                  .select("new_id", "c_id",
                          (F.floor(F.col("__s6").cast("double") / F.lit(1e6)
                                   * F.lit(1e4) + F.lit(0.5))
                           / F.lit(1e4)).alias("score")))


def bm25_gate_batch(new_docs: DataFrame, index: DataFrame, tau: float = 3.0,
                    text_col: str = "text") -> DataFrame:
    """:func:`bm25_gate` for BATCH callers — row-identical output
    (pinned by test_bm25_gate_batch_equals_stream), different physical
    plan. The stream form is shaped by append-mode statelessness: it
    carries the candidate's whole word->impact map on every index row
    and folds the arriving document's term array over that map per
    joined row (two O(|terms|) folds per (term, candidate) row, plus
    map-width rows through the join). A batch caller doesn't need
    statelessness, and the same score is a plain aggregation: the
    (distinct-term x pruned-posting) equi-join already enumerates
    exactly the shared words whose impacts the fold sums — the fold's
    misses coalesce to 0, so

        s6(new, c) = sum over __terms of c_map[t]
                   = sum of w6 over joined (word, c_id) rows.

    groupBy(new_id, c_id).sum(w6) computes that with map-side partial
    aggregation over (long, long, long) rows — the joined relation
    collapses before the exchange instead of shipping per-row maps and
    re-folding (r14 measured on the ingest funnel at sf0.1: the probe
    stage fell 11.7s -> sub-second; guide §2.3 "aggregate before you
    shuffle"). The index may be either shape: the narrow
    :func:`bm25_gate_postings` (word, c_id, w6) — preferred for batch,
    no map assembly — or the stream form, whose per-row c_map entry for
    its own word IS that row's w6, so a persisted ``gate_index``
    parquet serves both forms unchanged."""
    tau6 = int(math.floor(tau * 1e6 + 0.5))
    terms = F.array_distinct(
        F.filter(tokens(F.coalesce(F.col(text_col), F.lit(""))),
                 lambda x: x != ""))
    newx = (new_docs.select(F.col("doc_id").alias("new_id"),
                            F.explode(terms).alias("word")))
    narrow = (index.select("word", "c_id", "w6")
              if "w6" in index.columns else
              index.select(
                  "word", "c_id",
                  F.element_at(F.col("c_map"), F.col("word")).alias("w6")))
    joined = newx.join(narrow, "word") \
                 .filter(F.col("c_id") != F.col("new_id"))
    return (joined.groupBy("new_id", "c_id")
                  .agg(F.sum("w6").alias("__s6"))
                  .filter(F.col("__s6") >= tau6)
                  .select("new_id", "c_id",
                          (F.floor(F.col("__s6").cast("double") / F.lit(1e6)
                                   * F.lit(1e4) + F.lit(0.5))
                           / F.lit(1e4)).alias("score")))
