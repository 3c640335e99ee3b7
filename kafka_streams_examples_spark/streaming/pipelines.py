"""Streaming topologies mirroring the reference examples.

Each function takes a streaming DataFrame and returns the transformed
streaming DataFrame; sinks/output modes are chosen by the caller (tests use
memory sinks; production would use Kafka/parquet sinks).

Emission-mode contract (SURVEY §4.2): Kafka Streams with cache disabled
emits every update (update mode here); `suppress(untilWindowCloses)` emits
final results only (append mode + watermark here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tokens


def streaming_wordcount(lines: DataFrame, text_col: str = "text") -> DataFrame:
    """WordCountLambdaExample.java:185-208 — running counts, update mode."""
    return (lines.select(F.explode(tokens(text_col)).alias("word"))
                 .filter(F.col("word") != "")
                 .groupBy("word").count())


def windowed_counts(events: DataFrame, size: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """W1 tumbling counts with grace period = watermark (late rows beyond
    the watermark are dropped — TimeWindows grace semantics)."""
    return (events.withWatermark("ts", watermark)
                  .groupBy(F.window("ts", size), F.col("event_type"))
                  .agg(F.count("*").alias("n"))
                  .select(F.col("window.start").alias("window_start"),
                          "event_type", "n"))


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """W3 session windows with inactivity gap; append mode emits only the
    final merged session per key (SessionWindowsExample.java:163-171 —
    Spark's native merge behavior matches the reference's session merging)."""
    return (events.withWatermark("ts", watermark)
                  .groupBy(F.session_window("ts", gap), F.col("user_id"))
                  .agg(F.count("*").alias("n_events"),
                       F.round(F.sum("value"), 2).alias("session_value"))
                  .select(F.col("session_window.start").alias("session_start"),
                          "user_id", "n_events", "session_value"))


def streaming_music_charts(plays: DataFrame, songs: DataFrame,
                           min_quantity: float = 5.0) -> DataFrame:
    """Flagship 1, streaming half (KafkaMusicExample.java:281-378): filter
    short plays, enrich from the broadcast song catalog (stream-static
    join = GlobalKTable), maintain play counts per (genre, song) in update
    mode. The top-5 rank runs at read time over the materialized counts —
    the reference does the same thing: its charts are REST reads over the
    continuously-updated song-play-count store, not a streamed output.

    `songs` is a static DataFrame (the catalog); `plays` is streaming with
    a `song_id` column.
    """
    from pyspark.sql.functions import broadcast
    return (plays.filter(F.col("quantity") >= min_quantity)
                 .join(broadcast(songs), "song_id")
                 .groupBy("genre", "song_id", "song_name")
                 .agg(F.count("*").alias("plays")))


def top5_from_counts(counts: DataFrame) -> DataFrame:
    """Read-time chart rank over materialized streaming counts (batch DF):
    genre charts + __overall__, same two-level shape as registry
    music_charts (overall ranks only the per-genre winners — a global
    top-5 song is necessarily top-5 in its own genre)."""
    from ..operators.topk import top_k_per_group
    order = [F.col("plays").desc(), F.col("song_id")]
    genre_top = top_k_per_group(counts, ["genre"], order, k=5)
    overall = top_k_per_group(
        genre_top.select(F.lit("__overall__").alias("genre"),
                         "song_id", "song_name", "plays"),
        ["genre"], order, k=5)
    out = genre_top.unionByName(overall)
    return out.select("genre", F.col("rnk").cast("bigint").alias("rnk"),
                      "song_id", "song_name", "plays")


def streaming_pageview_region(views: DataFrame, uregion: DataFrame,
                              watermark: str = "2 hours") -> DataFrame:
    """Flagship 2, streaming half (PageViewRegionLambdaExample.java:139-196):
    stream-static leftJoin onto the user-region dimension (refreshed per
    micro-batch in production), UNKNOWN default, hopping-window counts.
    Append mode emits each window once, when the watermark closes it."""
    from pyspark.sql.functions import broadcast
    return (views.withWatermark("ts", watermark)
                 .join(broadcast(uregion), "user_id", "left")
                 .withColumn("region", F.coalesce("region", F.lit("UNKNOWN")))
                 .groupBy("region", F.window("ts", "1 day", "6 hours"))
                 .agg(F.count("*").alias("n_views"))
                 .select("region", F.col("window.start").alias("window_start"),
                         "n_views"))


def interval_join_stream(left: DataFrame, right: DataFrame,
                         key: str, delta: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """J3 stream-stream windowed inner join with watermarks both sides.

    Column convention: the left side carries ``l_{key}``/``l_ts``, the
    right side ``r_{key}``/``r_ts`` (prefixing avoids ambiguous-column
    errors in the self-join-shaped condition).

    State size is bounded by the watermark: each side buffers only rows
    newer than (max event time - watermark) — identical to the reference's
    JoinWindows retention.
    """
    l = left.withWatermark("l_ts", watermark)
    r = right.withWatermark("r_ts", watermark)
    cond = ((l[f"l_{key}"] == r[f"r_{key}"])
            & (r["r_ts"] >= l["l_ts"])
            & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {delta}")))
    return l.join(r, cond, "inner")


def streaming_order_validation(orders: DataFrame, qty: DataFrame,
                               fraud_limit: float = 400000.0,
                               session_gap_seconds: int = 86400) -> DataFrame:
    """Flagship 3, streaming half — the microservices choreography
    (SURVEY §3.3): three validators consume the SAME order stream in
    parallel and their verdicts merge onto one validation stream
    (order-validations topic). Emits (order_id, validator, verdict).

    - details  (OrderDetailsService.java:76-92): stateless field checks
    - inventory (InventoryService.java:100-126): stream-static join against
      the quantity table (the reference's product KTable)
    - fraud    (FraudService.java:78-130): per-customer incremental session
      spend via applyInPandasWithState (streaming/stateful.py:fraud_check)

    The downstream tally (ValidationsAggregatorService) is a read-time
    groupBy over the merged sink — count PASS per order, 3 = VALIDATED.
    """
    from .stateful import fraud_check

    base = orders.select(
        F.col("customer"), F.col("order_id"),
        F.col("order_value"), F.col("ts"))
    details = base.select(
        "order_id", F.lit("details").alias("validator"),
        F.when((F.col("order_value") > 0)
               & (F.col("order_value") <= 450000), "PASS")
         .otherwise("FAIL").alias("verdict"))
    inv = (base.join(F.broadcast(qty), "order_id", "left")
               .select("order_id", F.lit("inventory").alias("validator"),
                       F.when(F.coalesce("q", F.lit(0.0)) <= 250, "PASS")
                        .otherwise("FAIL").alias("verdict")))
    fraud = (fraud_check(base, limit=fraud_limit,
                         session_gap_seconds=session_gap_seconds)
             .select("order_id", F.lit("fraud").alias("validator"),
                     F.col("verdict")))
    return details.unionByName(inv).unionByName(fraud)


def streaming_corpus_filter(docs: DataFrame, min_tokens: int = 10,
                            max_nonalnum_ratio: float = 0.4,
                            ttl: str = "10 minutes",
                            text_col: str = "text", id_col: str = "doc_id",
                            ts_col: str = "ts") -> DataFrame:
    """Streaming analog of operators.text.corpus_prep: the same one-pass
    quality gate (token floor + non-alphanumeric ceiling), then content
    dedup as first-ARRIVAL-wins per fingerprint within the watermark TTL
    (the T2 dedup machinery keyed on content fp instead of event id).

    Contract difference vs the batch operator, by design: batch keeps the
    MIN doc id per fingerprint (deterministic over a static corpus); a
    stream cannot know the future minimum, so it keeps the first arrival —
    the fingerprint SET and kept-count are identical, the representative
    id may differ. State is one fp per distinct surviving document,
    evicted by the watermark.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    bad_ratio = (F.length(F.regexp_replace(F.lower(F.col(text_col)),
                                           "[a-z0-9 ]", ""))
                 / F.length(F.col(text_col)))
    scored = docs.select(
        F.col(id_col), F.col(ts_col),
        F.md5(norm).alias("fp"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        bad_ratio.alias("__bad"))
    kept = (scored.filter((F.col("n_tokens") >= min_tokens)
                          & (F.col("__bad") <= max_nonalnum_ratio))
                  .drop("__bad"))
    return (kept.withWatermark(ts_col, ttl)
                .dropDuplicatesWithinWatermark(["fp"])
                .select(id_col, "fp", "n_tokens"))


def music_charts_service(spark, plays: DataFrame, songs: DataFrame,
                         state_dir: str, n_buckets: int = 8,
                         min_quantity: float = 5.0):
    """Flagship 1 composed end-to-end (KafkaMusicExample.java:281-378 +
    335-375 TopFiveSongs): the streaming play-count half (update mode)
    feeds the bucketed KTable materializer, and the two-level top-5
    (per-genre + __overall__) ranks at READ time over the store — the
    reference architecture exactly: its charts are REST reads over the
    continuously-updated song-play-count store.

    Returns (query, charts) where `charts()` serves the current top-5
    table from state (call any time; converges to the batch
    music_charts oracle once the stream drains, independent of arrival
    order — counts are cumulative per key and the materializer keeps the
    newest epoch's value per key). Caller stops the query.
    """
    from ..serving import DiskStateStore
    from .ktable import KTableMaterializer

    counts = streaming_music_charts(plays, songs, min_quantity)
    mat = KTableMaterializer(spark, state_dir, ["genre", "song_id"],
                             ts_col="__v", n_buckets=n_buckets)

    def sink(batch: DataFrame, epoch: int) -> None:
        # update-mode batches carry only keys whose count changed; the
        # epoch number versions them for the latest-per-key merge
        mat(batch.withColumn("__v", F.lit(epoch).cast("long")), epoch)

    q = (counts.writeStream.outputMode("update").foreachBatch(sink).start())

    # charts() only scans the store, so the composite key is never looked up
    store = DiskStateStore(spark, state_dir, "song_id", n_buckets)

    def charts() -> DataFrame:
        return top5_from_counts(store.all().drop("__v"))

    return q, charts


def streaming_bpe_encode(docs: DataFrame, codec: DataFrame) -> DataFrame:
    """BPE tokenization AT INGEST: the trained codec (a 1-row static
    DataFrame from ``operators.bpe.bpe_codec`` — merge array + symbol->id
    map) broadcast-joins onto the raw document stream, and
    ``operators.bpe.apply_bpe``'s scan-side expressions (char-segment,
    ordered merge fold, id map) run unmodified on the streaming
    DataFrame — stateless, append mode, no state store, bounded by
    scan/decode throughput. This is how a 100 TB ingest tokenizes
    documents as they arrive instead of re-scanning the corpus after the
    fact; the tokenizer itself stays a batch artifact retrained
    offline (exactly the Kafka Streams GlobalKTable shape: static
    enrichment state, streaming facts). Batch-equality is pinned by
    tests/test_streaming.py::test_streaming_bpe_encode_equals_batch."""
    from ..operators.bpe import apply_bpe

    return apply_bpe(docs, codec)


def streaming_gopher_gate(docs: DataFrame) -> DataFrame:
    """The Gopher rule battery applied AT INGEST — the quality gate a
    100 TB corpus build runs on the raw stream before anything is
    stored: `operators.text.gopher_rules` is pure Column expressions
    (array folds + regexp counts, zero shuffles, no state), so the
    identical battery runs on a streaming DataFrame unmodified and the
    pipeline is bounded by scan/decode throughput. Emits the per-rule
    verdicts + combined `kept` per document (append mode — stateless).
    Batch-equality is pinned by
    tests/test_streaming.py::test_streaming_gopher_gate_equals_batch."""
    from ..operators.text import gopher_rules

    return gopher_rules(docs)


def streaming_nb_filter(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Model-based quality filtering AT INGEST: the trained NB codec
    (a 1-row static DataFrame from ``operators.text.nb_model`` —
    bigram->weight map + prior) broadcast-joins onto the raw document
    stream and ``operators.text.apply_nb``'s scan-side fold scores
    each document as it arrives — stateless, append mode, no state
    store, zero shuffles, bounded by scan/decode throughput. This is
    the DCLM/fastText filter running in the ingest path (score at
    ingest, store only keepers) while the classifier itself stays a
    batch artifact retrained offline — the Kafka Streams GlobalKTable
    shape (static enrichment state, streaming facts), exactly like
    streaming_bpe_encode. Batch-equality is pinned by
    tests/test_streaming.py::test_streaming_nb_filter_equals_batch."""
    from ..operators.text import apply_nb

    return apply_nb(docs, model)


def streaming_line_filter(docs: DataFrame, codec: DataFrame) -> DataFrame:
    """Boilerplate-line removal AT INGEST: the batch-detected
    boilerplate hash set (a 1-row static DataFrame from
    ``operators.text.boiler_codec``) broadcast-joins onto the raw
    document stream and ``operators.text.apply_line_filter``'s
    scan-side line filter cuts known cross-corpus boilerplate from
    each arriving document — stateless, append mode, zero shuffles
    (the line array never explodes). This is RefinedWeb's boilerplate
    pass running in the ingest path while detection stays a batch
    artifact refreshed offline — the GlobalKTable shape a third time
    (streaming_bpe_encode, streaming_nb_filter). Batch-equality vs
    line_dedup is pinned by
    tests/test_streaming.py::test_streaming_line_filter_equals_batch."""
    from ..operators.text import apply_line_filter

    return apply_line_filter(docs, codec)


def streaming_ingest_funnel(docs: DataFrame, boiler: DataFrame,
                            model: DataFrame, index: DataFrame,
                            tau: float = 5.5, words_per_line: int = 12,
                            min_words: int = 25,
                            min_stopwords: int = 1,
                            n_buckets: int | None = None) -> DataFrame:
    """The FULL ingest path composed as ONE streaming pipeline: arrive
    -> Gopher battery -> boilerplate line filter -> NB filter (scored
    on the cleaned text) -> BM25 admission probe -> store. The first
    three gates are ``operators.text.ingest_chain`` — one stateless
    chained scan (gopher threads the text through; the ``_chained``
    line/NB forms append their columns), all artifacts static 1-row
    broadcasts. The admission stage is the stateless
    ``operators.retrieval.bm25_gate`` probe over the SAME chained
    stream's cleaned text (stream-static word join, exactly-once per
    pair via the first-shared-word trick).

    Output is one append stream with two row kinds: ``kind='doc'`` —
    exactly one row per arriving document carrying its chain verdicts
    (g_gopher, g_line, g_nb) — and ``kind='hit'`` — one row per
    (document, indexed-candidate) lexical hit at score >= tau. The
    store-side batch consumes docs MINUS hit doc_ids (a stream cannot
    anti-join its own derived hit stream; the set difference is the
    sink's job — exactly the shape ``operators.text.ingest_gate_flags``
    runs in batch, and what the funnel oracle counts).
    Batch-equality of both row kinds is pinned by
    tests/test_streaming.py::test_streaming_ingest_funnel_equals_batch.
    """
    from ..operators.retrieval import bm25_gate
    from ..operators.text import ingest_chain

    chain = ingest_chain(docs, boiler, model, words_per_line,
                         min_words=min_words, min_stopwords=min_stopwords,
                         n_buckets=n_buckets)
    flags = chain.select(
        F.col("doc_id"), F.lit("doc").alias("kind"),
        "g_gopher", (F.col("n_kept") > 0).alias("g_line"),
        F.col("pred_target").alias("g_nb"),
        F.lit(None).cast("long").alias("c_id"),
        F.lit(None).cast("double").alias("score"))
    hits = (bm25_gate(chain.select("doc_id", "clean_text"), index, tau,
                      text_col="clean_text")
            .select(F.col("new_id").alias("doc_id"),
                    F.lit("hit").alias("kind"),
                    F.lit(None).cast("boolean").alias("g_gopher"),
                    F.lit(None).cast("boolean").alias("g_line"),
                    F.lit(None).cast("boolean").alias("g_nb"),
                    F.col("c_id"), F.col("score")))
    return flags.unionByName(hits)


def streaming_ingest_funnel_from(spark, path: str, docs: DataFrame,
                                 tau: float = 5.5,
                                 words_per_line: int = 12,
                                 min_words: int = 25,
                                 min_stopwords: int = 1) -> DataFrame:
    """:func:`streaming_ingest_funnel` served from a persisted
    ``operators.text.build_ingest_artifacts`` directory (VERDICT r13
    item 4) — the production wiring: the offline trainer writes the
    three artifacts once per corpus window, and every micro-batch of
    the ingest stream gates against those disk artifacts with ZERO
    training jobs (the static legs read only ``{path}/*`` bytes —
    pinned by tests/test_streaming.py::
    test_streaming_ingest_funnel_from_persisted_artifacts, the
    inputFiles pattern). The build-time ``n_buckets`` rides
    ``{path}/meta`` and is applied automatically through the shared
    ``operators.text.load_ingest_artifacts`` loader, so the stream
    scores arriving bigrams with the identical hash geometry as the
    persisted NB weights (the ADVICE r13 mismatch is structurally
    impossible here too). Output contract identical to the inline
    form: kind='doc' chain verdicts + kind='hit' admission probes;
    the store-side batch does the set difference."""
    from ..operators.text import load_ingest_artifacts

    boiler, model, index, n_buckets = load_ingest_artifacts(spark, path)
    return streaming_ingest_funnel(docs, boiler, model, index, tau,
                                   words_per_line, min_words,
                                   min_stopwords, n_buckets=n_buckets)
