"""Text analysis operators for training-data pipelines (beyond-reference).

All pure Column expressions — language id, quality scoring, token counting
and fingerprinting run at scan speed inside whole-stage codegen; no Python
in the loop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (md5_hash64, stable_round, stable_round_sql,
                         tokens, word_shingles)

# Tiny deterministic stopword profiles (shared verbatim with the DuckDB
# oracle). Real language-id would use char-ngram profiles; the heuristic
# here keeps the operator oracle-checkable while exercising the same plan
# shape (array filter + conditional scoring per row).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}

EN_STOPWORDS = STOPWORDS["en"]

#: the document gate of `corpus_prep`, which the streaming
#: `streaming_corpus_filter` must apply identically
MIN_TOKENS, MAX_NONALNUM_RATIO = 10, 0.4
#: tokens per derived line: the line geometry the Gopher, line-dedup,
#: boilerplate and ingest operators (and their SQL oracles) share
WORDS_PER_LINE = 12
#: absolute discount of the Kneser-Ney surprisal operators and oracles
KN_DISCOUNT = 0.75


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def with_lang_pred(docs: DataFrame) -> DataFrame:
    """Heuristic language id: argmax of stopword hits, 'en' on ties/zero."""
    toks = tokens("text")
    d = docs.withColumn("__toks", toks)
    for lang, words in STOPWORDS.items():
        d = d.withColumn(f"__sc_{lang}", _count_in(F.col("__toks"), words))
    pred = (F.when((F.col("__sc_de") > F.col("__sc_en"))
                   & (F.col("__sc_de") >= F.col("__sc_fr"))
                   & (F.col("__sc_de") >= F.col("__sc_es")), "de")
             .when((F.col("__sc_fr") > F.col("__sc_en"))
                   & (F.col("__sc_fr") >= F.col("__sc_es")), "fr")
             .when(F.col("__sc_es") > F.col("__sc_en"), "es")
             .otherwise("en"))
    return (d.withColumn("pred_lang", pred)
             .drop("__toks", *[f"__sc_{l}" for l in STOPWORDS]))


def with_quality(docs: DataFrame) -> DataFrame:
    """Quality scoring: token count, mean token length, stopword ratio,
    non-alphanumeric ratio, combined into a bounded score."""
    toks = tokens("text")
    d = (docs.withColumn("__toks", toks)
             .withColumn("n_tokens", F.size("__toks").cast("long"))
             .withColumn("__sw", _count_in(F.col("__toks"), EN_STOPWORDS)))
    mean_len = (F.aggregate(F.transform(F.col("__toks"), F.length),
                            F.lit(0), lambda acc, x: acc + x).cast("double")
                / F.col("n_tokens"))
    sw_ratio = F.col("__sw") / F.col("n_tokens")
    nonalnum = (F.length(F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", ""))
                / F.length(F.col("text")))
    score = (F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
             + sw_ratio * 0.3
             + (1.0 - nonalnum) * 0.3)
    # stable_round: built-in round() diverges from DuckDB on X.XXX5-boundary
    # doubles (see functions.stable_round) — shows up ~1/400 docs at sf0.1
    return (d.withColumn("mean_token_len", stable_round(mean_len, 4))
             .withColumn("stopword_ratio", stable_round(sw_ratio, 4))
             .withColumn("quality", stable_round(score, 4))
             .drop("__toks", "__sw"))


# BPE-ish pre-tokenization: alphanumeric runs + individual punctuation
# marks — the GPT-2-style pre-split shape, in a dialect-neutral pattern
# (identical semantics under Java regex and RE2/DuckDB)
BPE_SPLIT_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count, a BPE-ish regex subword count (alnum runs +
    punctuation marks), and the chars/4 heuristic — the three standard
    token-budget estimators for training-data accounting."""
    return docs.select(
        F.col("doc_id"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_SPLIT_RE))
         .cast("long").alias("n_tokens_bpe"),
        F.ceil(F.length(F.col("text")) / 4).cast("long").alias("n_tokens_chars4"),
    )


def corpus_prep(docs: DataFrame, min_tokens: int = MIN_TOKENS) -> DataFrame:
    """The canonical training-data prep composition in ONE pass: quality
    gate (token floor + non-alphanumeric ceiling) then exact dedup keeping
    the smallest id per fingerprint.

    Plan shape: one scan computing fp/n_tokens/ratio, one filter, one
    shuffle on fp for the min-id keeper set, one join back. Only
    (id, fp, n_tokens) ever shuffles — never document text — so the
    pipeline is scan-bound at 100 TB exactly like exact_dedup_groups.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    bad_ratio = (F.length(F.regexp_replace(F.lower(F.col("text")),
                                           "[a-z0-9 ]", ""))
                 / F.length(F.col("text")))
    scored = docs.select(
        F.col("doc_id"),
        F.md5(norm).alias("fp"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        bad_ratio.alias("__bad"))
    kept = (scored.filter((F.col("n_tokens") >= min_tokens)
                          & (F.col("__bad") <= MAX_NONALNUM_RATIO))
                  .drop("__bad"))
    keepers = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(keepers, ["fp", "doc_id"]).select("doc_id", "fp", "n_tokens")


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf from one tokenize+groupBy; df from a count_distinct over the same
    exploded relation (Spark reuses the scan); idf = ln(N/df) with N
    attached as a broadcast 1-row cross join — no driver round-trip. The
    score is rounded BEFORE ranking and ties break on the term, so the
    top-k set is deterministic and engine-independent. The rank filter
    compiles to WindowGroupLimit: partial top-k runs map-side, so the
    final sort shuffles at most k rows per document.
    """
    toks = (docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("word"))
                .filter(F.col("word") != ""))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.select(F.count("*").alias("n_docs"))
    scored = (tf.join(df_, "word").crossJoin(F.broadcast(n))
                .select(F.col("doc_id"), "word",
                        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4)
                         .alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (scored.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") <= k)
                  .select("doc_id", "word", "tfidf", F.col("rn").cast("long").alias("rn")))


#: winnowing window and shingle width; corpus and fragment fingerprints
#: must share them for the completeness guarantee to hold
DECON_W, DECON_N = 4, 3


def decontaminate(docs: DataFrame, contaminants: DataFrame) -> DataFrame:
    """Benchmark decontamination: find every document containing any
    benchmark fragment as a token-aligned contiguous run.

    The training-pipeline step that keeps eval sets out of the corpus.
    Naive shape is contains(text, frag) over docs x frags — a full-corpus
    scan per fragment. The scale path here is candidate-driven:

    1. winnowing fingerprints (MOSS) of corpus and fragments with shared
       (w, n) = (``DECON_W``, ``DECON_N``): any token-aligned match of
       >= w+n-1 tokens is GUARANTEED a
       shared selected fingerprint, so the fp equi-join produces a
       candidate superset — int64 hashes shuffle, never text;
    2. candidates verify exactly with a space-padded `contains` on the
       whitespace-normalized text (padding anchors token boundaries), the
       fragment side broadcast.

    `docs` is (doc_id, text) and `contaminants` is (src_id, frag);
    fragments must be >= w+n-1 tokens or the completeness guarantee does
    not cover them. Output: (doc_id, src_id), one row per (document,
    fragment-source) hit — including a fragment's own source document, a
    built-in sanity row.
    """
    from .dedup import winnow_fingerprints

    doc_fp = winnow_fingerprints(docs, w=DECON_W, n=DECON_N)
    frag_fp = (winnow_fingerprints(
                   contaminants.select(F.col("src_id").alias("doc_id"),
                                       F.col("frag").alias("text")),
                   w=DECON_W, n=DECON_N)
               .withColumnRenamed("doc_id", "src_id"))
    cand = doc_fp.join(frag_fp, "fp").select("doc_id", "src_id").distinct()
    ntext = F.concat_ws(
        " ", F.filter(tokens("text"), lambda x: x != ""))
    norm = docs.select(F.col("doc_id"), ntext.alias("__ntext"))
    return (cand.join(norm, "doc_id")
                .join(F.broadcast(contaminants.select("src_id", "frag")),
                      "src_id")
                .filter(F.contains(
                    F.concat(F.lit(" "), F.col("__ntext"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("frag"), F.lit(" "))))
                .select("doc_id", "src_id"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (the Gopher-rules quality
    filter family): duplicate-token fraction and top-bigram share, plus
    the combined `repetitive` flag at the given thresholds.

    Degenerate machine-generated text repeats itself; these two signals
    catch the common failure shapes (token loops, phrase loops) that
    length/stopword quality scores miss. dup_token_frac is pure array
    arithmetic at scan speed; top-bigram share explodes bigrams into a
    per-(doc, bigram) count and takes the per-doc max — two shuffles,
    both linear in token volume and both on (int64 id, small string), so
    the operator streams at corpus scale (the O(n^2)-per-row pure-expr
    alternative would not).
    """
    toks = F.filter(tokens("text"), lambda x: x != "")
    base = docs.select(
        F.col("doc_id"), toks.alias("__toks"),
        F.size(toks).cast("bigint").alias("n_tokens"))
    stats = base.select(
        "doc_id", "n_tokens",
        stable_round(
            F.when(F.col("n_tokens") > 0,
                   1.0 - F.size(F.array_distinct("__toks"))
                   / F.col("n_tokens").cast("double"))
             .otherwise(0.0), 4).alias("dup_token_frac"),
        F.col("__toks").alias("__toks"))
    bg = (stats.filter(F.col("n_tokens") >= 2)
               .select("doc_id",
                       F.explode(word_shingles(F.col("__toks"), 2)).alias("bg"))
               .groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
               .groupBy("doc_id")
               .agg(stable_round(F.max("c") / F.sum("c").cast("double"), 4)
                    .alias("top_bigram_share")))
    return (stats.drop("__toks")
                 .join(bg, "doc_id", "left")
                 .select("doc_id", "n_tokens", "dup_token_frac",
                         F.coalesce("top_bigram_share", F.lit(0.0))
                          .alias("top_bigram_share"))
                 .withColumn("repetitive",
                             (F.col("dup_token_frac") > 0.5)
                             | (F.col("top_bigram_share") > 0.2)))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lower-cased text.

    Whole-document identity. The rolling-window counterpart (hashes over
    sliding n-gram windows, winnowing-style) is the shingle-hash pipeline in
    operators/dedup.py: doc_shingle_hashes = per-window fingerprints,
    minhash_signatures = the bounded sketch over them."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return docs.select(F.col("doc_id"), F.md5(norm).alias("fp"))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    stride: int = 48) -> DataFrame:
    """Context-window packing: overlapping fixed-size token chunks.

    The training-data step between cleaning and batching: every document
    becomes ceil(n/stride) chunks of up to `chunk_tokens` tokens whose
    starts advance by `stride` (overlap = chunk_tokens - stride). All
    array expressions (sequence/posexplode/slice) — codegen'd fan-out at
    scan speed, no Python; output size is a fixed ~chunk/stride multiple
    of the input, so the operator streams at 100 TB without state.
    """
    toks = tokens("text")
    d = docs.select(F.col("doc_id"), toks.alias("__toks"),
                    F.size(toks).alias("__n"))
    starts = F.sequence(F.lit(0), F.greatest(F.col("__n") - 1, F.lit(0)),
                        F.lit(stride))
    return (d.select(F.col("doc_id"), F.col("__toks"), F.col("__n"),
                     F.posexplode(starts).alias("chunk_id", "__start"))
             .select(F.col("doc_id"),
                     F.col("chunk_id").cast("long").alias("chunk_id"),
                     F.concat_ws(" ", F.slice("__toks", F.col("__start") + 1,
                                              chunk_tokens))
                      .alias("chunk_text"),
                     F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start"))
                      .cast("long").alias("n_chunk_tokens")))


def bigram_doc_stats(docs: DataFrame) -> DataFrame:
    """Corpus-frequency novelty signal per document.

    Builds the corpus bigram document-frequency table once (tokenize scan
    -> distinct per-doc bigrams -> groupBy df), joins it back to each
    document's bigrams, and reports per doc: distinct bigram count, how
    many are corpus-unique (df = 1 — novel phrasing), and the mean df
    (high = boilerplate). All rational arithmetic (int sums / counts), so
    the oracle comparison is exact; stable_round only formats avg_df.
    Shuffles carry (bigram, doc_id) pairs and the df table joins on the
    bigram key — no all-pairs stage, same shape as the TF-IDF operator.
    """
    toks = tokens("text")
    bg = (docs.select(F.col("doc_id"), toks.alias("__toks"))
              .filter(F.size("__toks") >= 2)
              .select(F.col("doc_id"),
                      F.explode(word_shingles(F.col("__toks"), 2)).alias("b"))
              .distinct())
    dfreq = bg.groupBy("b").agg(F.count_distinct("doc_id").alias("df"))
    per = (bg.join(dfreq, "b")
             .groupBy("doc_id")
             .agg(F.count("*").cast("long").alias("n_bigrams"),
                  F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                   .cast("long").alias("n_singleton"),
                  stable_round(F.avg("df"), 4).alias("avg_df")))
    return (docs.select(F.col("doc_id"))
                .join(per, "doc_id", "left")
                .select(F.col("doc_id"),
                        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                        F.coalesce("n_singleton", F.lit(0)).alias("n_singleton"),
                        F.coalesce("avg_df", F.lit(0.0)).alias("avg_df")))


# PII patterns, shared verbatim with the DuckDB oracle. Dialect-neutral:
# no lookarounds or backreferences, so Java regex (Spark) and RE2 (DuckDB)
# agree; \b is the ASCII word boundary and (?i) the case-insensitivity
# flag in both (PII must not leak just because it is capitalized). Order
# matters and is part of the contract: each pattern is counted on the
# text AS ALREADY MASKED by the patterns before it (an email's digits
# must not double-count as a phone fragment), then masked itself.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{4}\b", "<PHONE>"),
)


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII redaction for training corpora: mask emails, IPv4 addresses and
    phone-shaped digit runs, reporting per-document match counts.

    Pure nested regexp_count/regexp_replace Column expressions — the whole
    operator runs at scan speed inside whole-stage codegen with nothing
    shuffled but the final projection, so at 100 TB it is bounded by the
    parquet scan exactly like the anonymizer (P12,
    MixAndMatchLambdaIntegrationTest.java:58-91) it generalizes.
    """
    exprs: list = [F.col("doc_id")]
    cur = F.col("text")
    for name, pat, repl in PII_PATTERNS:
        exprs.append(F.regexp_count(cur, F.lit(pat)).cast("long")
                      .alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    exprs.append(cur.alias("redacted"))
    return docs.select(*exprs)


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Corpus-LM surprisal per document — the perplexity-filter family
    (CCNet-style): score each document by the mean negative log
    probability of its tokens under the corpus's own unigram model.
    Low surprisal = boilerplate/templated text; high = rare-token noise;
    the middle band is what LM training keeps.

    Plan: TWO passes over the corpus — one tokenize scan builds the
    unigram count table (shuffle on word), a second streams through the
    scoring join (shuffle on word, linear in token volume); the
    corpus-total is a 1-row broadcast. At 100 TB, persist/checkpoint the
    count table (it is vocabulary-sized) so re-runs pay only the scoring
    pass — the probe-side scan itself is irreducible. No smoothing
    needed — every scored token exists in the model by construction.
    Per-token log-probs quantize to INTEGER micro-nats (floor half-up
    at 1e-6) before the per-doc mean: integer sums are order-exact
    where float summation is not — `avg` over 1e-6-grid values lands a
    doc's mean ON a rounding half-boundary far more often than
    full-entropy doubles would, and Spark's partial-agg combine order
    varies run to run (observed: a 1/5000-row run-to-run flip at sf0.1
    in the bigram sibling). The mean is one double division of two
    exact integers, then portable rounding at 4.
    """
    tk = (docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("word"))
              .filter(F.col("word") != ""))
    cnt = tk.groupBy("word").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("t"))
    sc = (tk.join(cnt, "word")
            .join(F.broadcast(tot), F.lit(True))
            .select(F.col("doc_id"),
                    F.floor(-F.log(F.col("c") / F.col("t")) * 1e6 + F.lit(0.5))
                     .cast("long").alias("s6")))
    return sc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        stable_round(F.sum("s6").cast("double") / (F.count("*") * 1e6), 4)
            .alias("surprisal"))


def pack_sequences(docs: DataFrame, budget: int = 256,
                   id_bits: int = 10) -> DataFrame:
    """Cross-document token packing into fixed-budget training sequences
    — the LM dataloader step after cleaning: concatenate the corpus in
    id order and emit, per document, the sequences it lands in with
    offsets, splitting documents across sequence boundaries.

    Output: (doc_id, seq_id, seq_off, tok_from, tok_to) — the document
    contributes its tokens [tok_from, tok_to) at offset seq_off of
    sequence seq_id, so any worker can assemble any sequence with O(1)
    lookups and no global state.

    Scale path: the global token prefix-sum is NOT a single-partition
    window — ids are range-bucketed (2^id_bits ids per bucket, the same
    two-phase pattern as sampling.global_shuffle), the running sum runs
    within each bucket in parallel, and bucket totals become a tiny
    broadcast offset table. Assumes roughly dense ids for bucket balance
    (skewed ids stay correct, only less parallel). Token-less documents
    contribute nothing and are omitted from the output.
    """
    n = F.size(F.filter(tokens("text"), lambda x: x != ""))
    return pack_counts(docs.select(F.col("doc_id"),
                                   n.cast("long").alias("__cnt")),
                       budget=budget, n_col="__cnt",
                       id_bits=id_bits)


def pack_counts(counts: DataFrame, budget: int = 256, n_col: str = "n_tokens",
                id_bits: int = 10) -> DataFrame:
    """The packer core over PRECOMPUTED per-document token counts —
    tokenizer-agnostic: `pack_sequences` feeds it whitespace counts,
    `pack_sequences_bpe` (registry) feeds it the learned-BPE counts from
    ``bpe.bpe_encode`` (whose unused token_ids column Catalyst prunes
    from the scan, so counting costs the encode's expressions only).
    Same contract and range-bucketed two-phase prefix sum as
    :func:`pack_sequences` (docstring above)."""
    d = counts.select(F.col("doc_id"), F.col(n_col).cast("long").alias("__n"),
                      F.shiftright(F.col("doc_id"), id_bits).alias("__b"))
    sums = d.groupBy("__b").agg(F.sum("__n").alias("__t"))
    offs = sums.select(
        "__b",
        (F.sum("__t").over(Window.orderBy("__b")) - F.col("__t")).alias("__boff"))
    win = (Window.partitionBy("__b").orderBy("doc_id")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = (d.withColumn("__woff", F.sum("__n").over(win) - F.col("__n"))
          .join(F.broadcast(offs), "__b")
          .select(F.col("doc_id"), "__n",
                  (F.col("__boff") + F.col("__woff")).alias("__s"))
          .filter(F.col("__n") > 0))
    # integral DIV, not double division: at extreme offsets (> 2^52
    # tokens) floor(x / float(b)) could round before flooring while the
    # oracle's `//` stays exact — keep both sides in integer arithmetic
    first_seq = F.expr(f"__s div {budget}")
    last_seq = F.expr(f"(__s + __n - 1) div {budget}")
    seq_start = F.col("seq_id") * budget
    clip_lo = F.greatest(F.col("__s"), seq_start)
    clip_hi = F.least(F.col("__s") + F.col("__n"), seq_start + budget)
    return (s.select(F.col("doc_id"), "__n", "__s",
                     F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"))
             .select(F.col("doc_id"),
                     F.col("seq_id").cast("long").alias("seq_id"),
                     (clip_lo - seq_start).cast("long").alias("seq_off"),
                     (clip_lo - F.col("__s")).cast("long").alias("tok_from"),
                     (clip_hi - F.col("__s")).cast("long").alias("tok_to")))


def bigram_surprisal(docs: DataFrame, lam: float = 0.7) -> DataFrame:
    """Interpolated bigram-LM surprisal per document — the step up from
    `unigram_surprisal` that actually models word ORDER: score = mean
    -ln( lam * c(w1,w2)/c(w1) + (1-lam) * c(w2)/T ) over the document's
    bigram positions. Shuffled token salad that fools unigram scoring
    (same words, wrong order) lights up here.

    Plan: bigram counts shuffle on (w1, w2); the scoring side probes the
    bigram table on the composite key and the unigram table twice (both
    word-keyed equi-joins, linear in token volume); the corpus total is
    a 1-row broadcast. Blend terms keep an explicit association order
    (lam * (c12/c1), not (lam*c12)/c1) shared with the oracle, and every
    log quantizes to integer micro-nats before the order-exact per-doc
    mean — the libm identity and float-sum-order caveats from
    unigram_surprisal apply here too (this operator is where the
    1/5000-row run-to-run flip was observed). Documents with fewer than
    two tokens report (0, 0.0).
    """
    toks = F.filter(tokens("text"), lambda x: x != "")
    tk = docs.select(F.col("doc_id"), toks.alias("ws"))
    uni = (tk.select(F.explode("ws").alias("w"))
             .groupBy("w").agg(F.count("*").alias("c")))
    tot = uni.agg(F.sum("c").alias("t"))
    bg = (tk.filter(F.size("ws") >= 2)
            .select(F.col("doc_id"),
                    F.explode(F.transform(
                        F.sequence(F.lit(0), F.size("ws") - 2),
                        lambda i: F.struct(F.get("ws", i).alias("w1"),
                                           F.get("ws", i + 1).alias("w2"))))
                     .alias("b"))
            .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")))
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    p = (F.lit(lam) * (F.col("c12") / F.col("c1"))
         + F.lit(1.0 - lam) * (F.col("c2") / F.col("t")))
    sc = (bg.join(c12, ["w1", "w2"]).join(u1, "w1").join(u2, "w2")
            .join(F.broadcast(tot), F.lit(True))
            .select(F.col("doc_id"),
                    F.floor(-F.log(p) * 1e6 + F.lit(0.5))
                     .cast("long").alias("s6")))
    agg = sc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        stable_round(F.sum("s6").cast("double") / (F.count("*") * 1e6), 4)
            .alias("surprisal"))
    return (docs.select(F.col("doc_id")).join(agg, "doc_id", "left")
                .select(F.col("doc_id"),
                        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                        F.coalesce("surprisal", F.lit(0.0)).alias("surprisal")))


def dsir_score(docs: DataFrame, target_sources: Sequence[str] = (
                   "src0", "src1", "src2", "src3", "src4"),
               buckets: int = 4096) -> DataFrame:
    """Data Selection via Importance Resampling score (Xie et al.,
    NeurIPS'23 DSIR): per-document mean log importance ratio of a
    target-domain hashed-bigram LM over the raw-corpus LM. High score =
    "looks like the target domain"; feed the scores to
    `sampling.weighted_upsample` (or threshold) to build the
    domain-targeted corpus — that composition IS the DSIR pipeline.

    Hashed n-gram features exactly as the paper: bigrams over the
    EMPTY-FILTERED token stream (the surprisal-family convention —
    whitespace-padded docs must not inject phantom-token bigrams into
    either LM) hash into `buckets` via the shared portable 60-bit md5
    hash, and both LMs are add-one-smoothed bucket unigram models, so
    every probability is a ratio of exact integers. The per-bucket log ratio is computed as
    ONE ln of a cross-ratio of exact integers (the products themselves
    stay < 2^53 only while total corpus bigrams stay under ~2^53/buckets;
    beyond that, cross-engine parity still holds because both engines
    evaluate the identical IEEE-double expression, not because the
    intermediate products are exact) and
    quantized to integer micro-nats immediately; per-doc scores are
    order-exact integer sums with a single final division — the
    rounding rule DESIGN.md records (note: scores are signed; the
    floor(x*1e6+0.5) quantizer is half-toward-+inf for negatives,
    identically on both engines, which is all the oracle needs).

    Scale shape: one tokenize scan fans out bigram occurrences into a
    materialized per-(doc, source, bucket) count relation that BOTH
    branches read (bucket LM counts are second-level sums over it; the
    per-doc score weights each bucket's micro-nat value by the count),
    so the corpus is scanned once; corpus totals are sums over the
    `buckets`-row table, not a second corpus pass; the scoring join is
    keyed by bucket id. Nothing shuffles but (bucket, count) and
    (doc, bucket, count) tuples.
    """
    toks = F.filter(tokens("text"), lambda x: x != "")
    bg = (docs.select(F.col("doc_id"), F.col("source").alias("__g"),
                      toks.alias("__toks"))
              .filter(F.size("__toks") >= 2)
              .select(F.col("doc_id"), "__g",
                      F.explode(word_shingles(F.col("__toks"), 2)).alias("b"))
              .select(F.col("doc_id"), "__g",
                      (md5_hash64(F.col("b")) % buckets).alias("__bk")))
    tgt = [str(s) for s in target_sources]
    # ONE corpus pass (r15): the raw bigram fan-out fed two branches
    # (bucket counts and per-doc scoring) with no shared exchange, so
    # the scan+tokenize+md5 pipeline executed once per branch — 4 scans
    # in the r14 plan. Collapsing the fan-out to per-(doc, source,
    # bucket) counts first and materializing THAT (rows ~ distinct
    # buckets per doc, far smaller than the occurrence stream) lets
    # both branches read it: bucket counts are a second-level aggregate
    # (sums of __c), and the per-doc score weights each bucket's
    # micro-nat value by __c — order-exact integer sums either way, so
    # every emitted value is bit-identical to the occurrence-stream
    # form.
    dbk = (bg.groupBy("doc_id", "__g", "__bk")
             .agg(F.count("*").alias("__c"))
             .localCheckpoint(eager=False))
    per_bucket = (dbk.groupBy("__bk")
                     .agg(F.sum("__c").alias("__r"),
                          F.sum(F.when(F.col("__g").isin(tgt), F.col("__c"))
                                 .otherwise(F.lit(0))).alias("__t")))
    totals = per_bucket.agg(F.sum("__r").alias("__nr"),
                            F.sum("__t").alias("__nt"))
    B = float(buckets)
    ratio = (((F.col("__t") + 1).cast("double")
              * (F.col("__nr") + F.lit(B)))
             / ((F.col("__r") + 1).cast("double")
                * (F.col("__nt") + F.lit(B))))
    lr = (per_bucket.join(F.broadcast(totals), F.lit(True))
                    .select("__bk",
                            F.floor(F.log(ratio) * 1e6 + F.lit(0.5))
                             .cast("long").alias("__s6")))
    per_doc = (dbk.join(F.broadcast(lr), "__bk")
                  .groupBy("doc_id")
                  .agg(F.sum("__c").cast("long").alias("n_bigrams"),
                       stable_round(F.sum(F.col("__c") * F.col("__s6"))
                                     .cast("double")
                                    / (F.sum("__c") * 1e6), 4).alias("dsir")))
    return (docs.select(F.col("doc_id"))
                .join(per_doc, "doc_id", "left")
                .select(F.col("doc_id"),
                        F.coalesce("n_bigrams", F.lit(0)).cast("long")
                         .alias("n_bigrams"),
                        F.coalesce("dsir", F.lit(0.0)).alias("dsir")))


# Rae et al. 2021 (Gopher), Appendix A1.1: a document must contain at
# least two of these words to pass the stopword rule. Shared verbatim
# with the DuckDB oracle.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, min_words: int = 50, keep_text: bool = False,
                 min_stopwords: int = 2) -> DataFrame:
    """Gopher quality-filter rule battery (Rae et al. 2021, A1.1) — the
    published heuristic gate every large text-corpus build runs before
    dedup: word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, bullet-line / ellipsis-line fractions, alphabetic-word
    fraction and the required-stopword rule, each reported per document
    alongside the combined ``kept`` verdict.

    All pure Column expressions (array folds + regexp counts) — the whole
    battery runs at scan speed inside whole-stage codegen, nothing
    shuffles, so at 100 TB it is bounded by the parquet scan exactly like
    quality_score/repetition_stats (the other members of this family).

    The fixture corpus is single-line prose with no bullets or ellipses,
    so—like pii_redact's deterministic PII injection—the line-level rules
    are exercised against a derived line structure: tokens wrap every
    ``WORDS_PER_LINE`` words, and line i of document d is prefixed with a
    "- " bullet when (d + i) % 7 == 0 and suffixed with "..." when
    (d + i) % 5 == 0, identically in the oracle. The rule predicates
    themselves (startswith/endswith/regexp-count over the line strings)
    are the real Gopher checks a multi-line corpus would hit unchanged.
    """
    # r15: the whole battery is built as FIVE selectExpr parses instead
    # of hundreds of F.* compositions — query construction is driver-
    # side Python where every F.* call is a synchronous py4j round-trip
    # (~0.8ms on this box), and this constructor sat on the ingest
    # funnel's critical path (~0.6s/call). Every SQL fragment is the
    # exact twin of the former Column expression: D-suffixed double
    # literals, same operand order, same type coercions — the resolved
    # plan is identical (oracle-pinned for gopher_rules/ingest_funnel).
    i, t = "`doc_id`", "`text`"
    wpl = WORDS_PER_LINE
    d = docs.selectExpr(
        i, t,
        rf"filter(split(lower({t}), '\\s+'), x -> x != '') AS __ws")
    d = d.selectExpr("*", "CAST(size(__ws) AS BIGINT) AS n_words")
    # derived line structure: tokens wrap every wpl words; bullet when
    # (doc_id + line_i) % 7 == 0, "..." suffix when % 5 == 0
    d = d.selectExpr(
        "*",
        f"transform(sequence(0, CAST(greatest(ceil(n_words / {wpl}), 1)"
        f" AS INT) - 1), i -> concat("
        f"CASE WHEN ({i} + i) % 7 = 0 THEN '- ' ELSE '' END, "
        f"concat_ws(' ', slice(__ws, i * {wpl} + 1, {wpl})), "
        f"CASE WHEN ({i} + i) % 5 = 0 THEN '...' ELSE '' END)) "
        f"AS __lines")

    # zero-word documents: Spark 4 runs ANSI mode where double x/0 is an
    # ERROR (DuckDB yields NULL) — every per-word ratio zeroes instead,
    # the repetition_stats contract; the word-count rule already rejects
    # such documents
    def per_word(expr: str) -> str:
        return (f"CASE WHEN n_words > 0 THEN ({expr}) / n_words "
                f"ELSE 0.0D END")

    joined = r"concat_ws('\n', __lines)"
    symbols = (f"CAST(regexp_count({joined}, '#') "
               rf"+ regexp_count({joined}, '\\.\\.\\.') AS DOUBLE)")
    sw = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    # keep_text threads the raw text through for the chained ingest
    # pipeline (ingest_chain), which gates and THEN transforms the same
    # row — a stream cannot re-join its own verdicts
    carry = [t] if keep_text else []
    d = d.selectExpr(
        i, *carry, "n_words",
        stable_round_sql(per_word(
            "CAST(aggregate(transform(__ws, x -> length(x)), 0, "
            "(a, x) -> a + x) AS DOUBLE)"), 4) + " AS mean_word_len",
        stable_round_sql(per_word(
            "CAST(size(filter(__ws, x -> x RLIKE '[a-z]')) AS DOUBLE)"),
            4) + " AS frac_alpha_words",
        stable_round_sql(per_word(symbols), 4) + " AS symbol_ratio",
        stable_round_sql(
            "size(filter(__lines, l -> startswith(l, '- '))) "
            "/ CAST(size(__lines) AS DOUBLE)", 4)
        + " AS frac_bullet_lines",
        stable_round_sql(
            "size(filter(__lines, l -> endswith(l, '...'))) "
            "/ CAST(size(__lines) AS DOUBLE)", 4)
        + " AS frac_ellipsis_lines",
        f"CAST(size(array_intersect(array_distinct(__ws), array({sw})))"
        f" AS BIGINT) AS stopword_hits")
    # per-rule verdicts reported alongside the combined gate: the useful
    # corpus diagnostic is WHICH rule rejects how much (and on a fixture
    # where one rule dominates, the per-rule booleans keep every other
    # rule's threshold inside the hash-checked surface)
    rules = {
        "rule_word_count":
            f"n_words BETWEEN {int(min_words)} AND 100000",
        "rule_word_len": "mean_word_len BETWEEN 3.0D AND 10.0D",
        "rule_symbols": "symbol_ratio <= 0.1D",
        "rule_bullets": "frac_bullet_lines <= 0.9D",
        "rule_ellipsis": "frac_ellipsis_lines <= 0.3D",
        "rule_alpha": "frac_alpha_words >= 0.8D",
        "rule_stopwords": f"stopword_hits >= {int(min_stopwords)}",
    }
    kept = " AND ".join(f"({e})" for e in rules.values())
    return d.selectExpr(
        "*", *(f"{e} AS {name}" for name, e in rules.items()),
        f"{kept} AS kept")


def derived_lines(ws: Column) -> Column:
    """The fixture's deterministic line structure (single-line corpus;
    the gopher_rules precedent): tokens wrap every ``WORDS_PER_LINE``
    words. Unlike gopher's decorated variant, lines carry no
    document-dependent prefix, so identical word runs in different
    documents produce identical lines — the property cross-document
    line dedup needs. A real multi-line corpus would split on
    newlines instead; everything downstream is unchanged."""
    wpl = WORDS_PER_LINE
    n_lines = F.greatest(F.ceil(F.size(ws) / wpl), F.lit(1)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(ws, i * wpl + 1, wpl)))


def apply_line_filter_chained(docs: DataFrame, codec: DataFrame) -> DataFrame:
    """:func:`apply_line_filter` as a CHAINABLE transform: (n_lines,
    n_kept, clean_text) APPENDED to the input row instead of selected
    out, so the ingest chain threads upstream flags through without a
    self-join. Filter expressions shared with apply_line_filter
    verbatim."""
    # r15: TWO selectExpr parses (SQL twins of the former Column trees —
    # same duplication of the ws/kept subtrees, same coercions;
    # construction is py4j-round-trip-bound, guide §7.3)
    wpl = WORDS_PER_LINE
    ws = (rf"filter(split(lower(coalesce(`text`, '')), '\\s+'), "
          r"x -> x != '')")
    d = (docs.join(F.broadcast(codec), F.lit(True), "left")
             .selectExpr(
                 "*",
                 f"transform(sequence(0, CAST(greatest(ceil(size({ws})"
                 f" / {wpl}), 1) AS INT) - 1), "
                 f"i -> concat_ws(' ', slice({ws}, i * {wpl} + 1, "
                 f"{wpl}))) AS __lines"))
    kept = ("filter(__lines, l -> element_at(__bl, "
            "CAST(conv(substring(md5(l), 1, 15), 16, 10) AS BIGINT))"
            " IS NULL)")
    return (d.selectExpr(
                "*",
                "CAST(size(__lines) AS BIGINT) AS n_lines",
                f"CAST(size({kept}) AS BIGINT) AS n_kept",
                rf"array_join({kept}, '\n') AS clean_text")
             .drop("__bl", "__lines"))


def line_dedup(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Cross-document duplicate-line removal — the RefinedWeb / CCNet
    boilerplate pass (Penedo et al. 2023 §3.2 run it corpus-wide before
    fuzzy dedup): any line appearing in >= ``min_docs`` DISTINCT
    documents (headers, footers, nav chrome) is cut from every
    document; per document the survivors are rejoined in original line
    order. Output: (doc_id, n_lines, n_kept, clean_text).

    Scale shape: one corpus scan explodes (doc, idx, line) with a
    portable 60-bit line hash; duplicate detection is ONE hash-keyed
    aggregation (count distinct docs per line hash — linear, the
    wordcount shuffle, never pairwise); reassembly is one doc-keyed
    aggregation. Text lines travel the two linear shuffles once each —
    at 100 TB you would shuffle (hash, doc, idx) and rejoin the line
    text by (doc, idx), but the fixture's short lines make the direct
    form cheaper. 60-bit hash collisions would conflate two distinct
    lines (~n^2/2^61); the same documented trade as the shingle
    pipeline.
    """
    ws = F.filter(tokens("text"), lambda x: x != "")
    ex = (docs.select(F.col("doc_id"),
                      F.posexplode(derived_lines(ws))
                       .alias("idx", "line"))
              .withColumn("h", md5_hash64(F.col("line"))))
    dup = (ex.groupBy("h")
             .agg(F.count_distinct("doc_id").alias("__nd"))
             .filter(F.col("__nd") >= min_docs)
             .select("h", F.lit(True).alias("__dup")))
    flagged = (ex.join(dup, "h", "left")
                 .select("doc_id", "idx", "line",
                         F.coalesce(F.col("__dup"), F.lit(False))
                          .alias("__dup")))
    rows = F.array_sort(F.collect_list(F.struct("idx", "__dup", "line")))
    return (flagged.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum(F.when(~F.col("__dup"), 1).otherwise(0))
                  .cast("long").alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.filter(rows, lambda s: ~s["__dup"]),
                         lambda s: s["line"]),
                     "\n").alias("clean_text")))


def nb_quality(docs: DataFrame, target_sources: Sequence[str] = (
                   "src0", "src1", "src2", "src3", "src4"),
               n_buckets: int | None = None) -> DataFrame:
    """Model-based quality filter, the fastText/DCLM classifier tier
    (DCLM, Li et al. 2024; FineWeb-Edu is the same shape): train a
    cheap linear text classifier to separate a curated target domain
    from the raw corpus, score everything, keep what scores high. This
    is the DISCRIMINATIVE counterpart of :func:`dsir_score` — the exact
    family the DSIR paper benchmarks against — sharing its fixture
    target (``target_sources``, the dialect-shifted src0-src4):
    multinomial Naive Bayes log-odds over word-BIGRAM counts (the
    dsir_score feature convention — the fixture's dialect axis is word
    order, not unigram choice), trained only on the ~80% split
    (doc_id % 5 != 0) and scored over EVERY document. Output
    per document: (doc_id, is_train, is_target, score, pred_target).

    Fixture realism: the synthetic corpus draws every source from the
    same distribution, so no text model can separate sources
    out-of-sample there — the registry query checks parity/plan only,
    and the LEARNING property (a held-out target-dialect document
    scores positive, off-dialect negative) is pinned by the
    synthetic-dialect unit test, exactly the dsir_score precedent
    (tests/test_bpe.py::test_dsir_scores_target_dialect_higher).
    Documents with fewer than two tokens have no features and score
    exactly the prior.

    Determinism: one ln() per TRAIN-VOCABULARY word over an exact
    integer cross-ratio ((c1+1)(tot0+V)) / ((c0+1)(tot1+V)) — Laplace
    smoothing cross-multiplied so each side is an exactly-representable
    integer product (< 2^53 up to ~90M train tokens; beyond that
    cross-engine parity still holds because both engines evaluate the
    identical IEEE expression, the dsir_score note) — quantized to
    integer micro-nats; the per-document score is prior + an INTEGER
    sum of per-token weights (order-exact, the dsir_score pattern).
    Words unseen in training contribute 0 (neutral). If either class is
    absent from the train split, weights and prior collapse to 0
    (score 0, pred false) rather than raising — mirrored in the oracle.

    Scale shape: class counts are one bigram-keyed aggregation over
    train tokens; scoring is one bigram-keyed equi-join over all tokens
    plus a doc-keyed sum — all linear, the bigram_surprisal plan with a
    vocabulary-sized model table (persist it; scoring new corpora then
    never touches the train corpus).
    """
    base, tk = _nb_base_tk(docs, target_sources, n_buckets)
    weights, pri = _nb_weights(base, tk)
    dsum = (tk.join(weights, "word", "left")
              .groupBy("doc_id")
              .agg(F.sum(F.coalesce(F.col("w6"), F.lit(0))).alias("__sw")))
    s6 = (F.coalesce(F.col("__sw"), F.lit(0)) + F.col("p6")).alias("s6")
    scored = (base.select("doc_id", "is_train", "is_target")
                  .join(dsum, "doc_id", "left")
                  .join(F.broadcast(pri), F.lit(True), "left")
                  .select("doc_id", "is_train", "is_target", s6))
    return scored.select(
        "doc_id", "is_train", "is_target",
        (F.floor(F.col("s6").cast("double") / F.lit(1e6) * F.lit(1e4)
                 + F.lit(0.5)) / F.lit(1e4)).alias("score"),
        (F.col("s6") > 0).alias("pred_target"))


def nb_bucket(word, n_buckets: int):
    """The bounded-feature hash: bigram -> one of ``n_buckets`` ids via
    the shared portable 60-bit md5 hash (the dsir_score convention,
    VERDICT r12 item 6) — cast to string so the bucketed feature flows
    through the same map-codec / weight-table plumbing as the raw
    bigram. Colliding bigrams MERGE their class counts (the standard
    hashing trick, Weinberger et al. ICML'09): the model artifact has
    a fixed upper size at ANY corpus, trading a bounded amount of
    weight blending for it."""
    return (md5_hash64(word) % F.lit(n_buckets)).cast("string")


def _nb_base_tk(docs: DataFrame, target_sources: Sequence[str],
                n_buckets: int | None = None) -> tuple[DataFrame,
                                                       DataFrame]:
    """Shared labeled-corpus prep: (base doc table with is_train /
    is_target flags, exploded train/score bigram-token table) — the
    single source for :func:`nb_quality`, :func:`nb_model` and
    :func:`nb_weights_table`. With ``n_buckets`` the feature column is
    the :func:`nb_bucket` hash of the bigram instead of the bigram
    itself (bounded-model form)."""
    tgt = [str(s) for s in target_sources]
    # r15: built as THREE selectExpr parses (SQL twins of the former
    # Column trees; construction is py4j-round-trip-bound, guide §7.3)
    tgt_sql = ", ".join(f"'{s}'" for s in tgt)
    base = (docs.selectExpr("doc_id",
                            "`text` AS __text",
                            "`source` AS __g")
                .selectExpr(
                    "*",
                    r"filter(split(lower(__text), '\\s+'), "
                    r"x -> x != '') AS __ws",
                    "(doc_id % 5) != 0 AS is_train",
                    f"__g IN ({tgt_sql}) AS is_target"))
    tk = (base.filter(F.size("__ws") >= 2)
              .selectExpr(
                  "doc_id", "is_train", "is_target",
                  "explode(transform(sequence(0, size(__ws) - 2), "
                  "i -> concat_ws(' ', get(__ws, i), get(__ws, i + 1))))"
                  " AS word"))
    if n_buckets is not None:
        tk = tk.withColumn("word", nb_bucket(F.col("word"), n_buckets))
    return base, tk


def _nb_weights(base: DataFrame, tk: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared NB trainer: (weights (word, w6), prior pri (p6)) from the
    labeled token table — the single source for both the registry
    composition and the broadcastable :func:`nb_model`."""
    # r15: SQL-twin selectExpr parses for the count/weight arithmetic
    # (same association, same int->long->double coercions as the former
    # Column trees; construction is py4j-round-trip-bound, guide §7.3)
    cw = (tk.filter("is_train")
            .groupBy("word")
            .agg(F.expr("sum(CASE WHEN is_target THEN 1 ELSE 0 END)")
                  .alias("c1"),
                 F.expr("sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END)")
                  .alias("c0")))
    gl = cw.agg(F.sum("c1").alias("tot1"), F.sum("c0").alias("tot0"),
                F.count("*").alias("v"))
    nd = (base.filter("is_train")
              .agg(F.expr("sum(CASE WHEN is_target THEN 1 ELSE 0 END)")
                    .alias("n1"),
                   F.expr("sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END)")
                    .alias("n0")))
    weights = (cw.join(F.broadcast(gl), F.lit(True), "left")
                 .join(F.broadcast(nd), F.lit(True), "left")
                 .selectExpr(
                     "word",
                     "CASE WHEN n1 > 0 AND n0 > 0 THEN CAST(floor(ln("
                     "(CAST(c1 + 1 AS DOUBLE) * CAST(tot0 + v AS DOUBLE))"
                     " / (CAST(c0 + 1 AS DOUBLE) * CAST(tot1 + v AS "
                     "DOUBLE))) * 1000000.0D + 0.5D) AS BIGINT) "
                     "ELSE 0 END AS w6"))
    pri = nd.selectExpr(
        "CASE WHEN n1 > 0 AND n0 > 0 THEN CAST(floor(ln("
        "CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1000000.0D + 0.5D) "
        "AS BIGINT) ELSE 0 END AS p6")
    return weights, pri


def nb_model(docs: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Train :func:`nb_quality`'s model and fold it into the 1-row
    broadcastable codec (__w: map<bigram, w6>, p6) — the bpe_codec /
    unigram_codec shape. This is the artifact a 100 TB deployment
    persists: scoring any OTHER corpus (or the ingest stream, see
    streaming/pipelines.py:streaming_nb_filter) is then one scan with
    zero joins. The fixture model is vocabulary-sized (~1k bigrams); a
    production model hash-buckets features first (the dsir_score
    convention) so the map stays bounded at any corpus size — or keeps
    the model in TABLE form (:func:`nb_weights_table`) and scores
    through :func:`apply_nb_table`'s feature-keyed join; :func:`score_nb`
    picks per measured model size."""
    weights, pri = nb_weights_table(docs, n_buckets=n_buckets)
    return fold_nb_codec(weights, pri)


def nb_weights_table(docs: DataFrame, target_sources: Sequence[str] = (
                         "src0", "src1", "src2", "src3", "src4"),
                     n_buckets: int | None = None) -> tuple[DataFrame,
                                                            DataFrame]:
    """Train :func:`nb_quality`'s model and return it in TABLE form:
    (weights (word, w6), prior (p6) — genuinely scalar, one row). The
    persistable artifact when the feature table is NOT broadcast-sized
    (a web-scale bigram vocabulary): keep ``weights`` as a parquet
    table and score through :func:`apply_nb_table`'s feature-keyed
    join instead of folding into :func:`nb_model`'s 1-row map."""
    base, tk = _nb_base_tk(docs, target_sources, n_buckets)
    return _nb_weights(base, tk)


def fold_nb_codec(weights: DataFrame, pri: DataFrame) -> DataFrame:
    """Fold a TABLE-form model into the 1-row broadcastable codec
    (__w: map<bigram, w6>, p6) — only valid while the feature table is
    broadcast-sized; :func:`score_nb` gates the fold on a count."""
    wmap = weights.agg(F.map_from_entries(F.collect_list(
        F.struct("word", "w6"))).alias("__w"))
    return wmap.join(F.broadcast(pri), F.lit(True), "left")


def apply_nb(docs: DataFrame, model: DataFrame,
             n_buckets: int | None = None) -> DataFrame:
    """Score documents under a trained :func:`nb_model`: per document
    (id, score, pred_target) — identical arithmetic to
    :func:`nb_quality`'s scoring half (pinned by
    test_apply_nb_equals_nb_quality_scores), but expressed as ONE
    scan-side fold over the broadcast map: zero joins, zero shuffles,
    so it runs unmodified on a streaming DataFrame (stateless append).
    Out-of-model bigrams contribute 0, <2-token documents score the
    prior — the nb_quality contracts."""
    return (apply_nb_chained(docs.select(F.col("doc_id"), F.col("text")),
                             model, n_buckets=n_buckets)
            .select(F.col("doc_id"), "score", "pred_target"))


def apply_nb_chained(docs: DataFrame, model: DataFrame, text_col: str = "text",
                     n_buckets: int | None = None) -> DataFrame:
    """:func:`apply_nb` as a CHAINABLE transform: same scoring columns
    (score, pred_target) APPENDED to the input row instead of selected
    out — so a multi-gate ingest pipeline can thread upstream flags
    through without a self-join (streams cannot re-join themselves).
    The single source of the scoring expressions (apply_nb delegates
    here)."""
    # r15: TWO selectExpr parses (SQL twins of the former Column trees —
    # same s6 subtree duplication, same coercions; construction is
    # py4j-round-trip-bound, guide §7.3)
    d = (docs.join(F.broadcast(model), F.lit(True), "left")
             .selectExpr(
                 "*",
                 rf"filter(split(lower(coalesce(`{text_col}`, '')), "
                 r"'\\s+'), x -> x != '') AS __ws"))
    grams = ("CASE WHEN size(__ws) >= 2 THEN "
             "transform(sequence(0, size(__ws) - 2), "
             "i -> concat_ws(' ', get(__ws, i), get(__ws, i + 1))) "
             "ELSE CAST(array() AS ARRAY<STRING>) END")
    if n_buckets is not None:
        grams = (f"transform({grams}, g -> "
                 f"CAST(CAST(conv(substring(md5(g), 1, 15), 16, 10) "
                 f"AS BIGINT) % {int(n_buckets)} AS STRING))")
    s6 = (f"(p6 + aggregate({grams}, CAST(0 AS BIGINT), "
          f"(acc, g) -> acc + coalesce(element_at(__w, g), "
          f"CAST(0 AS BIGINT))))")
    return (d.selectExpr(
                "*",
                f"floor(CAST({s6} AS DOUBLE) / 1000000.0D * 10000.0D "
                f"+ 0.5D) / 10000.0D AS score",
                f"{s6} > 0 AS pred_target")
             .drop("__w", "p6", "__ws"))


def apply_nb_table(docs: DataFrame, weights: DataFrame, pri: DataFrame,
                   n_buckets: int | None = None) -> DataFrame:
    """Score documents under a TABLE-form model
    (:func:`nb_weights_table`): byte-identical output to
    :func:`apply_nb` (crossover-tested), but the feature weights never
    leave table form — scoring is ONE hash-partitioned equi-join of
    the exploded bigram column against ``weights`` (``shuffle_hash``
    hinted: the weight side is unbounded by assumption, Catalyst must
    never broadcast it) plus a doc-keyed integer sum — the
    open-vocabulary scale path when the train-bigram table outgrows
    the broadcast budget. Out-of-model bigrams contribute 0 (left
    join), <2-token documents score the prior — the apply_nb
    contracts."""
    ws = F.filter(tokens(F.coalesce(F.col("text"), F.lit(""))),
                  lambda x: x != "")
    base = (docs.select(F.col("doc_id"))
                .join(F.broadcast(pri), F.lit(True), "left"))
    tk = (docs.select(F.col("doc_id"), ws.alias("__ws"))
              .filter(F.size("__ws") >= 2)
              .select(F.col("doc_id"),
                      F.explode(word_shingles(F.col("__ws"), 2))
                       .alias("word")))
    if n_buckets is not None:
        tk = tk.withColumn("word", nb_bucket(F.col("word"), n_buckets))
    dsum = (tk.join(weights.hint("shuffle_hash"), "word", "left")
              .groupBy("doc_id")
              .agg(F.sum(F.coalesce(F.col("w6"), F.lit(0))).alias("__sw")))
    s6 = F.coalesce(F.col("__sw"), F.lit(0)) + F.col("p6")
    return (base.join(dsum, "doc_id", "left")
                .select(F.col("doc_id"),
                        (F.floor(s6.cast("double") / F.lit(1e6) * F.lit(1e4)
                                 + F.lit(0.5)) / F.lit(1e4)).alias("score"),
                        (s6 > 0).alias("pred_target")))


def score_nb(docs: DataFrame, weights: DataFrame, pri: DataFrame,
             strategy: str = "auto",
             feature_limit: int | None = None) -> DataFrame:
    """Size-thresholded NB scoring dispatcher over a TABLE-form model:
    "broadcast" folds ``weights`` into the 1-row codec and scores
    scan-side (:func:`apply_nb` — zero joins, the streaming-compatible
    form); "join" keeps it a table (:func:`apply_nb_table`); "auto"
    counts the feature table and picks (the adaptive_r
    measure-then-switch convention, one counting job; limit defaults
    to :data:`operators.bpe.WORD_BROADCAST_LIMIT`). All strategies are
    byte-identical (crossover-tested)."""
    from .bpe import WORD_BROADCAST_LIMIT
    if strategy == "auto":
        limit = WORD_BROADCAST_LIMIT if feature_limit is None \
            else feature_limit
        strategy = "broadcast" if weights.count() <= limit else "join"
    if strategy == "join":
        return apply_nb_table(docs, weights, pri)
    if strategy != "broadcast":
        raise ValueError(f"score_nb: unknown strategy {strategy!r}")
    return apply_nb(docs, fold_nb_codec(weights, pri))


def boiler_codec(docs: DataFrame) -> DataFrame:
    """Detect boilerplate lines (the :func:`line_dedup` hash-keyed
    count-distinct) and fold the offending line-hash set into a 1-row
    broadcastable codec (__bl: map<hash, true>) — the nb_model /
    bpe_codec shape. This is the artifact an ingest deployment
    persists and refreshes offline; at 100 TB the set would sit behind
    a Bloom filter, the same bounded-state note as nb_model."""
    # r15: ONE selectExpr parse for the explode+hash pipeline (SQL twin
    # of the former Column tree; construction is py4j-bound, guide §7.3)
    wpl = WORDS_PER_LINE
    ws = (rf"filter(split(lower(`text`), '\\s+'), "
          r"x -> x != '')")
    ex = docs.selectExpr(
        "doc_id",
        f"explode(transform(sequence(0, CAST(greatest(ceil(size({ws})"
        f" / {wpl}), 1) AS INT) - 1), "
        f"i -> concat_ws(' ', slice({ws}, i * {wpl} + 1, {wpl}))))"
        f" AS line") \
        .selectExpr("doc_id",
                    "CAST(conv(substring(md5(line), 1, 15), 16, 10) "
                    "AS BIGINT) AS h")
    dup = (ex.groupBy("h")
             .agg(F.count_distinct("doc_id").alias("__nd"))
             .filter(F.col("__nd") >= 2))
    return dup.agg(F.map_from_entries(F.collect_list(
        F.struct(F.col("h"), F.lit(True)))).alias("__bl"))


def apply_line_filter(docs: DataFrame, codec: DataFrame) -> DataFrame:
    """Cut known boilerplate lines from documents using a
    :func:`boiler_codec` — same output contract as :func:`line_dedup`
    (doc_id, n_lines, n_kept, clean_text; equality pinned by
    test_apply_line_filter_equals_line_dedup) but computed entirely
    scan-side: the line array never explodes, survivors keep document
    order for free, and there are zero joins and zero shuffles — so
    the identical expressions run unmodified on a streaming DataFrame
    (streaming/pipelines.py:streaming_line_filter, the ingest-time
    RefinedWeb boilerplate cut). Expressions single-sourced in
    :func:`apply_line_filter_chained` (this form selects the
    line_dedup contract columns out)."""
    return (apply_line_filter_chained(
                docs.select(F.col("doc_id"), F.col("text")),
                codec)
            .select(F.col("doc_id"),
                    "n_lines", "n_kept", "clean_text"))


def corpus_report(docs: DataFrame) -> DataFrame:
    """The corpus datasheet — the (metric, value) summary every corpus
    release publishes (the Datasheets-for-Datasets / data-card shape)
    and the first sanity gate a 100 TB build re-runs after each
    pipeline stage: volume (docs, tokens, vocabulary, mean length),
    hygiene (exact-duplicate rate over the corpus_prep normalized
    fingerprint, boilerplate-line rate over the line_dedup detector,
    word-count-gate pass rate), and composition (one ``frac_lang_*``
    row per language OBSERVED in the corpus — derived from the data,
    not a fixed enumeration — plus source count).

    One composed plan of linear aggregations: a doc-level pass, a
    token-level pass, the fingerprint distinct and the line-hash
    detector — every input is a keyed aggregation already audited
    under its owning operator, combined via 1-row cross joins and
    unpivoted with ``stack``. Ratios quantize at 6dp via the portable
    floor formula; counts are exact doubles. Precondition: a non-empty
    corpus (the per-doc ratios divide by the document count; an empty
    release has no datasheet to publish).
    """
    ws = F.filter(tokens("text"), lambda x: x != "")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    base = (docs.select(F.col("doc_id").alias("doc_id"),
                        F.col("lang"), F.col("source"),
                        F.md5(norm).alias("__fp"),
                        ws.alias("__ws"))
                .withColumn("__n", F.size("__ws")))
    frac = lambda cond: stable_round(
        F.sum(F.when(cond, 1).otherwise(0)).cast("double")
        / F.count("*").cast("double"), 6)
    m1 = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("__n").cast("double").alias("total_tokens"),
        stable_round(F.sum("__n").cast("double")
                     / F.count("*").cast("double"), 6)
         .alias("mean_doc_tokens"),
        (F.lit(1.0) - F.count_distinct("__fp").cast("double")
         / F.count("*").cast("double")).alias("__rawdup"),
        frac(F.col("__n") >= 50).alias("wordgate_pass_rate"),
        F.count_distinct("source").cast("double").alias("n_sources"),
    ).withColumn("exact_dup_rate",
                 stable_round(F.col("__rawdup"), 6)).drop("__rawdup")
    m2 = (base.select(F.explode("__ws").alias("w"))
              .agg(F.count_distinct("w").cast("double")
                    .alias("distinct_words")))
    ld = (line_dedup(docs)
          .agg(stable_round(
              F.lit(1.0) - F.sum("n_kept").cast("double")
              / F.sum("n_lines").cast("double"), 6)
              .alias("boiler_line_rate")))
    one = (m1.join(F.broadcast(m2), F.lit(True), "left")
             .join(F.broadcast(ld), F.lit(True), "left"))
    cols = ["n_docs", "total_tokens", "distinct_words", "mean_doc_tokens",
            "exact_dup_rate", "boiler_line_rate", "wordgate_pass_rate",
            "n_sources"]
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    fixed = one.selectExpr(
        f"stack({len(cols)}, {stack}) AS (metric, value)")
    # composition rows are DERIVED from the data (one row per observed
    # language), so a corpus in any language mix gets a complete
    # datasheet — a fixed enumeration would silently omit the rest
    nd = base.agg(F.count("*").alias("__nd"))
    langs = (base.groupBy("lang").agg(F.count("*").alias("__c"))
                 .join(F.broadcast(nd), F.lit(True), "left")
                 .select(F.concat(F.lit("frac_lang_"), F.col("lang"))
                          .alias("metric"),
                         stable_round(F.col("__c").cast("double")
                                      / F.col("__nd").cast("double"), 6)
                          .alias("value")))
    return fixed.unionAll(langs)


def kn_ngram_surprisal(docs: DataFrame, order: int = 2,
                       prune: int = 0) -> DataFrame:
    """Interpolated Kneser-Ney surprisal per document at ANY n-gram
    ``order`` — the generalized production perplexity-filter tier
    (CCNet's filter is a 5-gram KN-smoothed KenLM). One parameterized
    derivation (VERDICT r12 item 7): :func:`kn_surprisal` is order 2,
    :func:`kn3_surprisal` order 3, and orders 4/5 are a parameter, not
    new code. Per n-gram position, recursively (Chen & Goodman 1998):

        p_m(w|ctx_m) = max(c_m(gram) - d, 0) / c_m(ctx_m·)
                       + (d * N1+(ctx_m,·) / c_m(ctx_m·)) * p_{m-1}
        p_1(w)       = N1+(·,w) / T

    where the TOP order m=n uses raw n-gram counts and every lower
    order m<n uses CONTINUATION counts — level m's table counts the
    distinct extensions one word to the left in the level-(m+1) table,
    so each is an aggregation OF the table above it (bounded by
    observed n-gram TYPES — corpus-linear, never vocabulary^n); the
    base distribution and T come from the level-2 table. score =
    order-exact mean of micro-nat -ln p over the document (the
    bigram_surprisal closing contract; <n-token documents report
    (0, 0.0)).

    Plan: the linear kn shape at any order — n-gram counts shuffle on
    (w1..wn); 2(n-1) aggregations of/within the TYPE-table ladder;
    the type table is enriched FIRST (all model joins run at type
    scale) and the corpus-scale occurrence table probes it ONCE; T is
    a 1-row broadcast. The nested smoothing expression is built with
    the identical association order at every level and mirrored in the
    oracle (registry._kn_sql emits the matching SQL for any order), so
    both engines evaluate the same IEEE expression before the one ln()
    quantizes to micro-nats.

    ``prune`` (VERDICT r13 item 6 — production KenLM/SRILM prune
    low-count n-grams; CCNet ships pruned models): with ``prune=t>0``
    the TOP-order raw-count table keeps only rows with count > t, and
    every level below (the levels > 2 of the backoff structure) is
    derived FROM the pruned table above it — so all model levels
    shrink together and the whole ladder is the exact KN model of the
    pruned count table. The threshold deliberately applies to raw
    counts only, never to the derived continuation counts: those are
    TYPE counts (distinct one-left extensions), overwhelmingly 1 by
    construction, and thresholding them empties the ladder — measured
    on the sf0.001/sf0.01 fixtures, c>1 on continuation levels left 1
    row at level 4 and ZERO at levels 3/2 (t=0, the degenerate
    model). The level-2 base never prunes (KenLM's
    no-unigram-pruning rule). Renormalization is exact by
    construction: the per-level context tables (cdot, nf) are
    recomputed FROM the pruned level tables, so sum over kept grams
    of max(c-d,0)/cdot + (d*nf/cdot)*1 = 1 at every surviving
    context — pruned grams score through the redistributed backoff
    mass. Probing: the type table keeps ALL observed grams (already
    counted in the first aggregation) but LEFT-joins the pruned model
    tables; a level whose context row is missing passes through
    (p_m = p_{m-1}, the unseen-context backoff convention) and a word
    pruned out of the base distribution scores the uniform type floor
    1/T (the <unk> convention; T is floored at 1 so an all-hapax
    corpus degenerates to surprisal 0, not a divide-by-zero). Scale
    shape: the 2(n-1) enrichment joins' BUILD sides shrink from
    all-observed-types to the count>t subset and its derivations — on
    natural text hapax n-grams dominate the order-5 table, and those
    joins dominate the unpruned plan's cost (SCALE evidence: the
    kn5_pruned row). Oracle: registry._kn_sql(order, prune=t) shares
    the threshold arithmetic.
    """
    if order < 2:
        raise ValueError("kn_ngram_surprisal needs order >= 2")
    if prune > 0 and order < 3:
        raise ValueError("prune applies to levels > 2 — needs order >= 3")
    pruned = prune > 0
    jt = "left" if pruned else "inner"
    n = order
    cols = [f"w{i}" for i in range(1, n + 1)]
    count_alias = {2: "n_bigrams", 3: "n_trigrams"}.get(n, f"n_{n}grams")
    toks = F.filter(tokens("text"), lambda x: x != "")
    tk = docs.select(F.col("doc_id"), toks.alias("ws"))
    tg = (tk.filter(F.size("ws") >= n)
            .select(F.col("doc_id"),
                    F.explode(F.transform(
                        F.sequence(F.lit(0), F.size("ws") - n),
                        lambda i: F.struct(*[
                            F.get("ws", i + j).alias(cols[j])
                            for j in range(n)]))).alias("g"))
            .select("doc_id", *[F.col(f"g.{c}").alias(c) for c in cols]))
    # At orders >= 4 the type tables are CORPUS-scale by construction
    # (V^n far exceeds observed n-grams, so |types| ~ |occurrences|)
    # and must never be broadcast — Catalyst's post-aggregate size
    # estimates under-guess them (measured: the sf10 decade cell died
    # broadcasting a ~1 GiB enrichment table that slipped under the
    # 64 MiB threshold, driver maxResultSize abort). shuffle_hash on
    # every ladder/probe join pins the scale-safe plan, the
    # join-fallback principle (operators/bpe.py:encode_with_word_table).
    # Orders 2/3 keep Catalyst's choice: their tables are vocabulary-
    # polynomial-bounded and their committed decade rows (SCALE10
    # kn3 9.0x) hold with broadcasts.
    def _scale_side(df: DataFrame) -> DataFrame:
        return df.hint("shuffle_hash") if n >= 4 else df

    # the count-table ladder: level n = raw n-gram types; level m<n =
    # continuation counts (distinct one-left extensions of level m+1).
    # With pruning, the TOP table drops count<=prune rows and every
    # level below derives from the pruned table above it (see the
    # docstring for why continuation counts are never thresholded).
    raw_top = tg.groupBy(*cols).agg(F.count("*").alias(f"c{n}"))
    level = {n: raw_top.filter(F.col(f"c{n}") > prune)
             if pruned else raw_top}
    for m in range(n - 1, 1, -1):
        gcols = cols[n - m:]            # the last m words
        level[m] = (level[m + 1].groupBy(*gcols)
                                .agg(F.count("*").alias(f"c{m}")))
    # per-level context tables: row-sum + distinct-continuation count
    # over the level's first m-1 gram words
    ctx = {m: (level[m].groupBy(*cols[n - m:-1])
                       .agg(F.sum(f"c{m}").alias(f"cdot{m}"),
                            F.count("*").alias(f"nf{m}")))
           for m in range(n, 1, -1)}
    bk = level[2].groupBy(cols[-1]).agg(F.count("*").alias("n1b"))
    tt = level[2].agg(F.count("*").alias("t"))
    # enrich the TYPE table with every model table, then probe once —
    # pruned: ALL observed types (raw_top) left-join the pruned model
    # tables (the shrunken build sides); unpruned: the bit-identical
    # r13 inner-join plan
    enr = (raw_top if pruned else level[n]) \
        .join(_scale_side(ctx[n]), cols[:-1], jt)
    for m in range(n - 1, 1, -1):
        gcols = cols[n - m:]
        enr = (enr.join(_scale_side(level[m]), gcols, jt)
                  .join(_scale_side(ctx[m]), gcols[:-1], jt))
    enr = enr.join(_scale_side(bk), cols[-1], jt) \
             .join(F.broadcast(tt), F.lit(True))
    d = F.lit(KN_DISCOUNT)
    if pruned:
        p = (F.coalesce(F.col("n1b"), F.lit(1)).cast("double")
             / F.greatest(F.col("t"), F.lit(1)).cast("double"))
    else:
        p = F.col("n1b").cast("double") / F.col("t").cast("double")
    for m in range(2, n + 1):
        cdot = F.col(f"cdot{m}").cast("double")
        if pruned:
            cm = (F.when(F.col(f"c{n}") > prune, F.col(f"c{n}"))
                   .otherwise(F.lit(0)) if m == n
                  else F.coalesce(F.col(f"c{m}"), F.lit(0)))
            interp = (F.greatest(cm.cast("double") - d, F.lit(0.0))
                      / cdot
                      + (d * F.col(f"nf{m}").cast("double") / cdot) * p)
            p = F.when(cdot.isNull(), p).otherwise(interp)
        else:
            p = (F.greatest(F.col(f"c{m}").cast("double") - d,
                            F.lit(0.0))
                 / cdot
                 + (d * F.col(f"nf{m}").cast("double") / cdot) * p)
    enr = enr.select(*cols, F.floor(-F.log(p) * 1e6 + F.lit(0.5))
                            .cast("long").alias("s6"))
    agg = (tg.join(_scale_side(enr), cols)
             .groupBy("doc_id")
             .agg(F.count("*").cast("long").alias(count_alias),
                  stable_round(F.sum("s6").cast("double")
                               / (F.count("*") * 1e6), 4)
                   .alias("surprisal")))
    return (docs.select(F.col("doc_id")).join(agg, "doc_id", "left")
                .select(F.col("doc_id"),
                        F.coalesce(count_alias, F.lit(0))
                         .alias(count_alias),
                        F.coalesce("surprisal", F.lit(0.0))
                         .alias("surprisal")))


def kn_surprisal(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal per document — the
    production perplexity-filter tier (CCNet's filter is a KN-smoothed
    KenLM; :func:`bigram_surprisal` is the plain-MLE-interpolation
    step below it). Per bigram position:

        p(w2|w1) = max(c(w1,w2) - d, 0) / c(w1·)
                   + (d * N1+(w1,·) / c(w1·)) * (N1+(·,w2) / T)

    with absolute discount ``d``, context counts c(w1·) = sum of the
    row's outgoing bigram counts, N1+ the distinct-continuation /
    distinct-history counts, and T the distinct bigram types — the
    continuation-probability backoff that makes KN rank "frequent word
    in a novel context" (high N1+ backoff mass, low evidence) above
    raw-frequency smoothing. Order 2 of
    :func:`kn_ngram_surprisal` (r13: the per-order derivation is one
    parameterized step; output byte-identical, parity re-run)."""
    return kn_ngram_surprisal(docs, 2)


def kn3_surprisal(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM surprisal per document — the
    KenLM-order step above :func:`kn_surprisal` (CCNet's production
    filter is a 5-gram KN model; order 3 exercises the full RECURSIVE
    continuation backoff, which higher orders only repeat). Per
    trigram position, with absolute discount ``d``:

        p(w3|w1,w2) = max(c(w1w2w3) - d, 0) / c(w1w2.)
                      + (d * N1+(w1w2,.) / c(w1w2.)) * p_kn(w3|w2)

        p_kn(w3|w2) = max(c'(w2w3) - d, 0) / c'(w2.)
                      + (d * N1+c(w2,.) / c'(w2.)) * (N1+(.,w3) / T)

    where the LOWER order runs on Chen-Goodman CONTINUATION counts
    derived from the trigram TYPE table: c'(w2w3) = N1+(.,w2,w3)
    (distinct w1 preceding the bigram), c'(w2.) its row-sum per w2,
    N1+c(w2,.) the distinct-continuation count OF the continuation
    table, N1+(.,w3) the distinct w2 preceding w3 in it, and T its
    total type count. Every count is an aggregation OF the trigram-type
    table (bounded by observed trigram TYPES — corpus-linear, never
    vocabulary-cubed); the top order uses raw trigram counts. score =
    order-exact mean of micro-nat -ln p over the document (the
    kn_surprisal closing contract; <3-token documents report (0, 0.0)).

    Order 3 of :func:`kn_ngram_surprisal` (r13: the per-order
    continuation-table derivation is one parameterized step — the
    measured enrich-first probe-once plan note lives there; output
    byte-identical, parity re-run).
    """
    return kn_ngram_surprisal(docs, 3)


def ingest_chain(docs: DataFrame, boiler: DataFrame, model: DataFrame,
                 n_buckets: int | None = None) -> DataFrame:
    """The composed stateless half of the ingest path — arrive ->
    Gopher gate -> boilerplate line filter -> NB quality filter — as
    ONE chained scan over each document: per doc (id, g_gopher,
    n_lines, n_kept, clean_text, score, pred_target), where the NB
    score is computed over the CLEANED text (documents are scored as
    they would be stored). Every stage is pure Column expressions over
    broadcast-static artifacts (:func:`gopher_rules` threads the text
    through; the ``_chained`` forms of the line filter and NB append
    their columns instead of selecting them out), so there are ZERO
    self-joins and zero shuffles and the identical chain runs
    unmodified on a streaming DataFrame
    (streaming/pipelines.py:streaming_ingest_funnel)."""
    g = (gopher_rules(docs, min_words=25, keep_text=True, min_stopwords=1)
         .select(F.col("doc_id"), F.col("text"),
                 F.col("kept").alias("g_gopher")))
    lf = apply_line_filter_chained(g, boiler)
    nb = apply_nb_chained(lf.drop("text"), model, text_col="clean_text",
                          n_buckets=n_buckets)
    return nb.select(F.col("doc_id"), "g_gopher", "n_lines", "n_kept",
                     "clean_text", "score", "pred_target")


def ingest_gate_flags(arriving: DataFrame, existing: DataFrame,
                      tau: float = 3.0) -> DataFrame:
    """Per-arriving-document verdicts of the FULL ingest path: the
    stateless :func:`ingest_chain` (gopher -> line filter -> NB, all
    artifacts trained offline on the EXISTING corpus) plus the BM25
    admission gate (the cleaned document probes a
    :func:`operators.retrieval.bm25_gate_index` built on the existing
    corpus; one lexical hit at score >= tau rejects — the
    dedup/decontamination trigger). Output per doc: (id, g_gopher,
    g_line, g_nb, g_admit) — each gate independent of the cascade
    (pure per-doc functions of fixed offline artifacts), so the funnel
    aggregation composes them in order without re-running anything.

    The admission anti-join runs batch-side: a stream cannot anti-join
    its own derived hit stream, so the streaming form emits hit events
    alongside the chain (streaming_ingest_funnel) and the store-side
    batch does this set difference — exactly this function's shape."""
    boiler = boiler_codec(existing)
    model = nb_model(existing)
    # keep_denom=None: the arriving batch scales WITH the corpus, so
    # the gate's per-term candidate bound must be the fixed r_floor —
    # a fractional bound makes gate work O(n^2) (pruned_postings doc;
    # measured 34x on the sf1 decade step before this). The batch
    # probe takes the NARROW postings (word, c_id, w6) — the stream
    # index's carried c_map and the self-join that attaches it exist
    # for stateless streaming and were 8 of this plan's 16 corpus
    # scans (r15; bm25_gate_batch scores both shapes identically).
    from .retrieval import bm25_gate_postings
    index = bm25_gate_postings(existing, r_floor=128, keep_denom=None)
    return _gate_flags_with(arriving, boiler, model, index, tau)


def _gate_flags_with(arriving: DataFrame, boiler: DataFrame, model: DataFrame,
                     index: DataFrame, tau: float = 3.0,
                     n_buckets: int | None = None) -> DataFrame:
    """The gate composition shared by the inline (train-then-gate,
    :func:`ingest_gate_flags`) and persisted (serve-from-disk,
    :func:`ingest_gate_flags_from`) forms: chain the stateless gates,
    probe the gate index with the CLEANED text, left-join the distinct
    hit set back as the admission flag.

    Two r14 batch-only optimizations (results row-identical; the
    streaming funnel keeps the stateless forms it needs):

    - the admission probe is :func:`retrieval.bm25_gate_batch` — the
      aggregation form of the stream probe (same scores, map-side
      partial aggregation instead of per-row map folds; measured
      11.7s -> sub-second on the sf0.1 funnel probe stage);
    - the chained gopher/line/NB scan is lazily localCheckpoint'ed:
      it feeds BOTH the probe branch and the final verdict projection,
      and with no exchange boundary inside the chain Catalyst would
      otherwise re-run the whole expression battery once per consumer
      (no ReuseExchange point; measured 2x the 1.7s chain cost)."""
    from .retrieval import bm25_gate_batch
    chain = ingest_chain(arriving, boiler, model, n_buckets=n_buckets) \
        .localCheckpoint(eager=False)
    hits = (bm25_gate_batch(chain.select(F.col("doc_id"), "clean_text"),
                            index, tau, text_col="clean_text")
            .select(F.col("new_id").alias("doc_id")).distinct()
            .withColumn("__hit", F.lit(True)))
    return (chain.join(hits, "doc_id", "left")
                 .select(F.col("doc_id"),
                         "g_gopher",
                         (F.col("n_kept") > 0).alias("g_line"),
                         F.col("pred_target").alias("g_nb"),
                         F.col("__hit").isNull().alias("g_admit")))


def build_ingest_artifacts(existing: DataFrame, path: str,
                           n_buckets: int | None = None) -> None:
    """Train and PERSIST the ingest path's three offline artifacts
    (the :func:`retrieval.build_bm25_index` write-once precedent,
    VERDICT r12 item 4): ``{path}/boiler`` (the 1-row boilerplate
    line-hash codec), ``{path}/nb_weights`` + ``{path}/nb_prior`` (the
    NB model in TABLE form — the scale-honest artifact; pass
    ``n_buckets`` for the bounded-size hashed model), and
    ``{path}/gate_index`` (the stream-probe pruned BM25 index,
    parquet-partitioned by the word-hash bucket ``wb`` — the
    build_bm25_index directory layout). A 100 TB deployment trains
    these once per corpus window and serves MANY arriving batches
    through :func:`ingest_funnel_from` — the inline
    :func:`ingest_funnel` re-trains all three on every invocation,
    which is the right oracle shape and the wrong serving shape."""
    from .retrieval import _wb, bm25_gate_index
    # Persist the model's feature-space geometry WITH the model: a
    # serve call that hashed arriving bigrams differently from the
    # build (or not at all) would coalesce every weight lookup to 0
    # and silently collapse scores to the prior (ADVICE r13) — the
    # meta row makes the mismatch structurally impossible.
    existing.sparkSession.createDataFrame(
        [(n_buckets,)], "n_buckets int") \
        .write.mode("overwrite").parquet(f"{path}/meta")
    boiler_codec(existing).write.mode("overwrite").parquet(f"{path}/boiler")
    weights, pri = nb_weights_table(existing, n_buckets=n_buckets)
    weights.write.mode("overwrite").parquet(f"{path}/nb_weights")
    pri.write.mode("overwrite").parquet(f"{path}/nb_prior")
    (bm25_gate_index(existing, r_floor=128, keep_denom=None)
        .withColumn("wb", _wb(F.col("word")))
        .write.mode("overwrite").partitionBy("wb")
        .parquet(f"{path}/gate_index"))


def ingest_gate_flags_from(spark, path: str, arriving: DataFrame,
                           tau: float = 3.0,
                           n_buckets: int | None = None) -> DataFrame:
    """:func:`ingest_gate_flags` served from a persisted
    :func:`build_ingest_artifacts` directory: identical verdicts
    row-for-row (pinned by test_ingest_persisted_equals_inline) with
    ZERO training jobs per batch — the plan reads only artifact bytes
    plus the arriving batch (inputFiles-tested, the
    query_bm25_index contract). The NB weight table folds into the
    1-row scan-side codec here (the fixture model is broadcast-sized;
    a web-scale deployment builds AND serves with the same
    ``n_buckets`` so the fold is bounded by construction — the scoring
    stage hashes arriving bigrams with the identical nb_bucket).

    The build-time ``n_buckets`` is read back from ``{path}/meta`` and
    applied automatically — a caller cannot score raw bigrams against
    a bucket-keyed weight table (every lookup would coalesce to 0 and
    the score would collapse to the prior, silently — ADVICE r13).
    Passing ``n_buckets`` explicitly is only accepted when it matches
    the persisted value (or for pre-meta artifact directories)."""
    boiler, model, index, n_buckets = load_ingest_artifacts(
        spark, path, n_buckets=n_buckets)
    return _gate_flags_with(arriving, boiler, model, index, tau,
                            n_buckets=n_buckets)


def load_ingest_artifacts(spark, path: str, n_buckets: int | None = None):
    """Open a :func:`build_ingest_artifacts` directory: returns
    ``(boiler, folded_nb_model, gate_index, n_buckets)`` with the
    build-time ``n_buckets`` read back from ``{path}/meta`` (a caller
    value is validated against it — the ADVICE r13 guard). Shared by
    the batch serve path (:func:`ingest_gate_flags_from`) and the
    streaming one (streaming/pipelines.py:streaming_ingest_funnel_from)
    so the two cannot drift on artifact layout or hash geometry."""
    persisted = _read_ingest_meta(spark, path)
    if persisted is not _NO_META:
        if n_buckets is not None and n_buckets != persisted:
            raise ValueError(
                f"artifact directory {path!r} was built with "
                f"n_buckets={persisted}; serving with n_buckets="
                f"{n_buckets} would hash features differently than "
                f"the persisted model")
        n_buckets = persisted
    boiler = spark.read.parquet(f"{path}/boiler")
    weights = spark.read.parquet(f"{path}/nb_weights")
    pri = spark.read.parquet(f"{path}/nb_prior")
    index = spark.read.parquet(f"{path}/gate_index").drop("wb")
    return boiler, fold_nb_codec(weights, pri), index, n_buckets


#: Sentinel for "artifact directory predates the meta row" — distinct
#: from a meta row whose n_buckets is NULL (an unhashed build).
_NO_META = object()


def _read_ingest_meta(spark, path: str):
    """The build-time ``n_buckets`` from ``{path}/meta``, ``None`` for
    an unhashed build, or :data:`_NO_META` when the directory predates
    the meta row (pre-r14 artifacts — the caller's explicit value then
    stands, the old contract)."""
    try:
        row = spark.read.parquet(f"{path}/meta").head()
    except Exception:
        return _NO_META
    return row["n_buckets"] if row is not None else _NO_META


def _funnel_agg(flags: DataFrame) -> DataFrame:
    """The yield-report aggregate over per-doc gate verdicts — shared
    by the inline and persisted funnel forms."""
    c = lambda cond, name: F.sum(F.when(cond, 1).otherwise(0)) \
        .cast("long").alias(name)
    g, l = F.col("g_gopher"), F.col("g_line")
    n, a = F.col("g_nb"), F.col("g_admit")
    return flags.agg(F.count("*").cast("long").alias("n_arrived"),
                     c(g, "n_gopher"),
                     c(g & l, "n_line"),
                     c(g & l & n, "n_nb"),
                     c(g & l & n & a, "n_admitted"))


def ingest_funnel_from(spark, path: str, arriving: DataFrame,
                       tau: float = 3.0) -> DataFrame:
    """:func:`ingest_funnel` served from persisted artifacts — the
    per-batch production form (train once per corpus window, serve
    many batches); row-for-row equal to the inline funnel over the
    same corpus snapshot. The artifact's build-time ``n_buckets`` is
    applied automatically via ``{path}/meta`` (ADVICE r13 — a hashed
    artifact served unhashed would silently report wrong n_nb /
    n_admitted counts)."""
    return _funnel_agg(ingest_gate_flags_from(
        spark, path, arriving, tau))


def ingest_funnel(arriving: DataFrame, existing: DataFrame,
                  tau: float = 3.0) -> DataFrame:
    """The ingest-path yield report (the pipeline_funnel counting shape
    over the COMPOSED gates): survivor counts through arrive ->
    gopher -> line filter (document not reduced to nothing) -> NB
    filter -> BM25 admission, as one conditional aggregate over
    :func:`ingest_gate_flags`. The first row a 100 TB ingest
    deployment reads after every batch window."""
    return _funnel_agg(ingest_gate_flags(arriving, existing, tau))
