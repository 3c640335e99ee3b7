"""Unigram-LM tokenizer training (SentencePiece-style Viterbi-EM) over
the corpus word table — the probabilistic counterpart of the BPE merge
trainer in :mod:`operators/bpe.py`.

Kudo (ACL'18) trains a unigram language model over subword pieces with
EM and segments by Viterbi. This implementation is the deterministic,
engine-portable restriction of that algorithm:

* **word-boundary restricted** (like the BPE trainer): all training
  runs over the *aggregated vocabulary* (distinct words + counts),
  never the raw corpus — at 100 TB the corpus collapses to a
  vocabulary table in the first aggregation and every EM iteration
  touches only that table.
* **hard (Viterbi) EM with a fixed iteration count**: the E-step
  segments every vocabulary word by max-probability Viterbi under the
  current piece distribution; the M-step recounts pieces from those
  segmentations (weighted by word frequency). No convergence collect,
  no driver control flow — the ``operators/bpe.py`` loop pattern with
  lazily localCheckpoint'ed iterations.
* **probability space, exact integer ratios, NO transcendentals**:
  piece probabilities are ``cnt / total`` of two BIGINTs and the
  Viterbi recurrence multiplies doubles — division, multiplication and
  comparison are IEEE-754-exact and bit-identical across Spark and
  DuckDB, unlike ``ln()`` whose libm implementations differ in the
  last ulp (which would flip near-tie Viterbi paths between engines).
  Underflow is impossible at realistic word lengths: >= 1e-4 per piece
  over <= ~50 pieces stays far above the 1e-308 double floor.

Viterbi contract (mirrored verbatim in the registry oracle)
-----------------------------------------------------------
``dist[0] = 1.0``; for position m = 1..n, candidates are piece lengths
k = max_len..1 with start i = m-k >= 0 and
``cost_k = dist[i] * p(word[i:m])``; the fold keeps a candidate only on
STRICTLY greater cost, so ties break to the largest k examined first —
i.e. the smallest start i (the longest final piece). Unknown single
characters fall back to ``cnt = 1`` (so every word has a positive-cost
path); unknown multi-character substrings have probability 0 and can
never win. Seed single characters are floored to ``cnt >= 1`` through
every M-step, which keeps full character coverage exactly like
SentencePiece's never-pruned character pieces.

Reference parity: the reference repo's pipelines tokenize with
whitespace/Serde-level splits only (e.g. WordCountLambdaExample.java:72-75);
this module extends the tokenizer family the LLM-pipeline tier added
(bpe.py), with the same corpus->vocabulary scale shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import stable_round, tokens
from .bpe import word_counts

#: Reserved token id for symbols outside the codec's id map (characters
#: never seen in training). Dense piece ids start at 1.
UNK_ID = 0


def seed_pieces(docs: DataFrame, keep: int = 40, max_len: int = 4,
                text_col: str = "text",
                vocab: DataFrame | None = None) -> DataFrame:
    """Seed piece table (piece, cnt): every single character of the
    corpus (never pruned) plus the ``keep`` most frequent substrings of
    length 2..max_len, counted per occurrence (overlaps included)
    weighted by word frequency. Ties on count break to the
    lexicographically smaller piece.

    Vocabulary-scale throughout: substring explosion runs over the
    distinct-word table, and the top-``keep`` window is a
    few-hundred-row sort (the bpe_codec symbol-rank precedent), not a
    corpus operation.

    ``vocab`` (r14): a precomputed ``word_counts`` table — the trainer
    passes its already-materialized vocabulary so seeding reads the
    checkpoint instead of re-tokenizing the corpus (same (word, cnt)
    relation by construction, one corpus scan saved)."""
    w = word_counts(docs, text_col) if vocab is None else vocab
    n = F.length("word")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), n),
        lambda s: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_len), n - s + 1)),
            lambda k: F.col("word").substr(s, k))))
    cand = (w.select(F.explode(subs).alias("piece"), "cnt")
             .groupBy("piece").agg(F.sum("cnt").alias("cnt")))
    singles = cand.filter(F.length("piece") == 1)
    multis = (cand.filter(F.length("piece") >= 2)
                  .withColumn("__r", F.row_number().over(
                      Window.orderBy(F.desc("cnt"), "piece")))
                  .filter(F.col("__r") <= keep).drop("__r"))
    return singles.unionAll(multis)


def _viterbi_dp(max_len: int) -> Column:
    """The DP table as an array<struct<c:double, bp:int>> column —
    dp[i+1] = (best probability of segmenting word[0:i], backpointer).
    A codegen'd F.aggregate over positions; each step examines at most
    ``max_len`` candidates via a fixed strictly-greater when-chain
    (module docstring contract). JVM-side, zero Python.

    r14: the expression is assembled as ONE SQL string and parsed with a
    single ``F.expr`` call. The historical per-Column construction made
    ~1,200 synchronous py4j round trips (measured 2.3s PER BUILD on this
    box, and unigram_encode builds the DP three times — two EM rounds +
    the encode word table). The SQL text mirrors the Column version
    token for token (same candidate duplication inside the CASE chain,
    same literals and casts), so the parsed tree — and therefore every
    value — is unchanged. The expression reads the columns ``word``,
    ``__cnt`` and ``__tot`` by name.

    The strictly-greater k=max_len..1 when-chain is equivalently the
    lexicographic MAXIMUM over candidate structs (c, k, bp) — equal
    costs keep the largest k examined first, which is exactly the
    second struct field — so the chain is expressed as one
    ``greatest()`` over max_len+1 structs (the extra first struct is
    the historical (-1.0, bp=-1) initializer; real candidates have
    c >= 0 or the -2.0 out-of-range sentinel, so it never collides).
    The when-chain form embedded each candidate and the running best
    TWICE per step (an exponentially duplicated tree that Catalyst
    analysis re-walks on every downstream localCheckpoint — measured
    0.8s PER lazy checkpoint in the EM loop); the greatest() form is
    linear in max_len. The DP structs carry the extra ``k`` field —
    dp is an intermediate column dropped before any output, and both
    consumers (.c here, .bp in _backtrack) access fields by name."""
    w, cm, tt = "word", "__cnt", "__tot"
    structs = ["named_struct('c', CAST(-1.0 AS DOUBLE), 'k', -1, 'bp', -1)"]
    for k in range(max_len, 0, -1):
        fallback = 1 if k == 1 else 0
        cand = (f"(CASE WHEN {k} <= m THEN "
                f"element_at(acc, m - {k} + 1).c * "
                f"(CAST(coalesce(element_at({cm}, "
                f"substring({w}, m - {k} + 1, {k})), "
                f"CAST({fallback} AS BIGINT)) AS DOUBLE) "
                f"/ CAST({tt} AS DOUBLE)) "
                f"ELSE CAST(-2.0 AS DOUBLE) END)")
        structs.append(
            f"named_struct('c', {cand}, 'k', {k}, 'bp', m - {k})")
    best = "greatest(" + ", ".join(structs) + ")"
    return F.expr(
        f"aggregate(sequence(1, length({w})), "
        f"array(named_struct('c', CAST(1.0 AS DOUBLE), 'k', 0, 'bp', 0)), "
        f"(acc, m) -> concat(acc, array({best})))")


def _backtrack(word: str = "word", dp: str = "__dp") -> Column:
    """Walk the backpointers from the end of the word: at most
    length(word) steps, each either prepends the piece ending at the
    current position or no-ops once position 0 is reached. ``dp`` must
    be a plain column name (the staged withColumn), so the DP fold is
    evaluated once per word, not once per backtrack step.

    r15: assembled as ONE SQL parse (the _viterbi_dp precedent — the
    Column composition made ~150 py4j round-trips per build and
    unigram_encode builds the backtrack three times). The SQL mirrors
    the former Column tree token for token: same triple occurrence of
    the ``bp`` subtree per step, same struct field names, same
    array<string> initializer — the parsed tree and every value are
    unchanged. Like _viterbi_dp, the args are plain column NAMES."""
    bp = f"element_at({dp}, acc.pos + 1).bp"
    return F.expr(
        f"aggregate(sequence(1, length({word})), "
        f"named_struct('pos', length({word}), "
        f"'ps', CAST(array() AS ARRAY<STRING>)), "
        f"(acc, m) -> CASE WHEN acc.pos > 0 THEN "
        f"named_struct('pos', {bp}, 'ps', "
        f"concat(array(substring({word}, {bp} + 1, acc.pos - {bp})), "
        f"acc.ps)) ELSE acc END).ps")


def _attach_codec(words: DataFrame, pieces: DataFrame) -> DataFrame:
    """Broadcast the piece table as a 1-row (map piece->cnt, total) —
    vocabulary-scale state, the bpe_codec shape."""
    codec = pieces.agg(
        F.map_from_entries(F.collect_list(
            F.struct("piece", "cnt"))).alias("__cnt"),
        F.sum("cnt").alias("__tot"))
    return words.join(F.broadcast(codec), F.lit(True), "left")


def segment_words(words: DataFrame, pieces: DataFrame,
                  max_len: int = 4) -> DataFrame:
    """Viterbi-segment a (word, ...) table under a (piece, cnt) table:
    adds a ``pieces`` array<string> column. Both the DP table and the
    backtrack are staged withColumns so each is evaluated once per
    word."""
    df = _attach_codec(words, pieces)
    df = df.withColumn("__dp", _viterbi_dp(max_len))
    return (df.withColumn("pieces", _backtrack("word", "__dp"))
              .drop("__cnt", "__tot", "__dp"))


def _em_rounds(docs: DataFrame, keep: int, iters: int, max_len: int,
               text_col: str) -> tuple[DataFrame, DataFrame]:
    """Shared trainer: (final pieces table, vocab) after ``iters``
    hard-EM rounds from the seed. Single-character pieces are floored
    to cnt >= 1 every round (coverage; module docstring); multi-
    character pieces that win no Viterbi segmentations drop out."""
    vocab = word_counts(docs, text_col).localCheckpoint(eager=False)
    pieces = seed_pieces(docs, keep, max_len, text_col, vocab=vocab) \
        .localCheckpoint(eager=False)
    singles = pieces.filter(F.length("piece") == 1) \
        .select("piece").localCheckpoint(eager=False)
    for _ in range(iters):
        seg = segment_words(vocab, pieces, max_len)
        counts = (seg.select(F.explode("pieces").alias("piece"), "cnt")
                     .groupBy("piece").agg(F.sum("cnt").alias("cnt")))
        floored = (singles.join(counts, "piece", "left")
                          .select("piece",
                                  F.greatest(F.coalesce(F.col("cnt"),
                                                        F.lit(0)),
                                             F.lit(1)).alias("cnt")))
        pieces = (counts.filter(F.length("piece") >= 2)
                        .unionAll(floored)
                        .localCheckpoint(eager=False))
    return pieces, vocab


def unigram_train(docs: DataFrame, keep: int = 40, iters: int = 2,
                  max_len: int = 4) -> DataFrame:
    """The learned piece table: (piece, cnt, prob) after ``iters``
    Viterbi-EM rounds — prob = stable_round(cnt / total, 6), the
    portable hash surface over an exact integer ratio."""
    pieces, _ = _em_rounds(docs, keep, iters, max_len, "text")
    tot = pieces.agg(F.sum("cnt").alias("__t"))
    return (pieces.join(F.broadcast(tot), F.lit(True), "left")
                  .select("piece", "cnt",
                          stable_round(F.col("cnt").cast("double")
                                       / F.col("__t").cast("double"),
                                       6).alias("prob")))


def unigram_codec(docs: DataFrame, keep: int = 40, iters: int = 2,
                  max_len: int = 4) -> DataFrame:
    """Train on ``docs`` and return the 1-row broadcastable codec:
    (__cnt: map<piece,bigint>, __tot: bigint, __ids: map<piece,int> —
    dense lexicographic ids starting at 1; :data:`UNK_ID` 0 reserved).
    All three columns come from vocabulary-scale tables."""
    pieces, _ = _em_rounds(docs, keep, iters, max_len, "text")
    return _codec_from_pieces(pieces)


def _codec_from_pieces(pieces: DataFrame) -> DataFrame:
    """Fold a trained (piece, cnt) table into the 1-row codec — split
    out (r14) so ``unigram_encode`` can reuse the trainer's vocabulary
    alongside the codec instead of re-deriving both from the corpus."""
    ranked = pieces.withColumn(
        "__id", F.row_number().over(Window.orderBy("piece")).cast("int"))
    return ranked.agg(
        F.map_from_entries(F.collect_list(
            F.struct("piece", "cnt"))).alias("__cnt"),
        F.sum("cnt").alias("__tot"),
        F.map_from_entries(F.collect_list(
            F.struct("piece", "__id"))).alias("__ids"))


def unigram_word_table(docs: DataFrame, codec: DataFrame, max_len: int = 4,
                       words: DataFrame | None = None) -> DataFrame:
    """The memoized encode table (word, n, ids): every DISTINCT word of
    the corpus being encoded Viterbi-segmented ONCE under the codec
    (segmentation is a pure function of the word). The single source
    for both of :func:`apply_unigram`'s application strategies.

    ``words`` (r14): a precomputed 1-column distinct-word table — the
    train-and-encode composition passes the trainer's vocabulary so the
    corpus is not re-tokenized just to recover the identical word set."""
    if words is None:
        words = (docs.select(
                     F.explode(tokens(F.coalesce(F.col("text"),
                                                 F.lit("")))).alias("word"))
                     .filter(F.col("word") != "").distinct())
    else:
        words = words.select("word")
    seg = segment_words(words, _codec_pieces(codec), max_len)
    ids = seg.join(F.broadcast(codec.select("__ids")), F.lit(True), "left")
    # r15: ONE selectExpr parse (SQL twin of the former Column tree;
    # construction is py4j-round-trip-bound, guide §7.3)
    return ids.selectExpr(
        "word",
        "size(pieces) AS n",
        f"array_join(transform(pieces, p -> "
        f"CAST(coalesce(element_at(__ids, p), {int(UNK_ID)}) AS STRING))"
        f", ',') AS ids")


def apply_unigram(docs: DataFrame, codec: DataFrame, max_len: int = 4,
                  strategy: str = "broadcast", word_limit: int | None = None,
                  words: DataFrame | None = None) -> DataFrame:
    """Encode ``docs`` with a trained :func:`unigram_codec`: per
    document (id, n_words, n_tokens, token_ids) — the
    :func:`operators.bpe.apply_bpe` output shape.

    100 TB design — word-level memoization: segmentation is a pure
    function of the word, so Viterbi runs ONCE per *distinct word of
    the corpus being encoded* (a zipf-small table produced by the same
    map-side-combined aggregation as tokenizer training,
    :func:`unigram_word_table`). How that table is APPLIED is
    ``strategy``-sized, exactly like :func:`operators.bpe.apply_bpe`:
    "broadcast" folds it into a 1-row map and the corpus-scale pass is
    a single scan applying the map per token (zero corpus shuffles —
    right while the distinct-word table is zipf-bounded); "join" keeps
    it a TABLE and applies it via the hash-partitioned word-keyed
    equi-join (:func:`operators.bpe.encode_with_word_table` — the
    open-vocabulary scale path: a web corpus's distinct "words" would
    outgrow any broadcast budget); "auto" counts and picks
    (:data:`operators.bpe.WORD_BROADCAST_LIMIT` default). All
    strategies are byte-identical (crossover-tested). An unknown
    CHARACTER (the only way a piece can miss the id map, since Viterbi
    re-derives segmentations) encodes as :data:`UNK_ID`."""
    from .bpe import WORD_BROADCAST_LIMIT, encode_with_word_table
    per_word = unigram_word_table(docs, codec, max_len=max_len, words=words)
    if strategy == "auto":
        limit = WORD_BROADCAST_LIMIT if word_limit is None else word_limit
        strategy = "broadcast" if per_word.count() <= limit else "join"
    if strategy == "join":
        return encode_with_word_table(docs, per_word)
    if strategy != "broadcast":
        raise ValueError(f"apply_unigram: unknown strategy {strategy!r}")
    wmap = per_word.agg(
        F.map_from_entries(F.collect_list(
            F.struct("word", F.struct("n", "ids").alias("v")))).alias("__w"))
    # r15: TWO selectExpr parses (SQL twins of the former Column trees —
    # same double occurrence of the looked-up transform, same
    # coercions; construction is py4j-round-trip-bound, guide §7.3)
    enc = (docs.select("doc_id", F.col("text"))
               .join(F.broadcast(wmap), F.lit(True), "left")
               .selectExpr(
                   "*",
                   rf"filter(split(lower(coalesce(`text`, '')), "
                   r"'\\s+'), x -> x != '') AS __toks"))
    looked = "transform(__toks, w -> element_at(__w, w))"
    return enc.selectExpr(
        "`doc_id`",
        "CAST(size(__toks) AS BIGINT) AS n_words",
        f"aggregate({looked}, CAST(0 AS BIGINT), "
        f"(a, v) -> a + v.n) AS n_tokens",
        f"array_join(transform({looked}, v -> v.ids), ',') "
        f"AS token_ids")


def _codec_pieces(codec: DataFrame) -> DataFrame:
    """(piece, cnt) table back out of a 1-row codec — vocabulary-scale
    explode, keeps segment_words single-sourced."""
    return codec.select(F.explode("__cnt").alias("piece", "cnt"))


def unigram_encode(docs: DataFrame, keep: int = 40, iters: int = 2,
                   max_len: int = 4, strategy: str = "broadcast") -> DataFrame:
    """Train-and-encode convenience: :func:`unigram_codec` on ``docs``
    then :func:`apply_unigram` over the same corpus (the bpe_encode
    registry shape). r14: the trainer's checkpointed vocabulary doubles
    as the encode pass's distinct-word set (identical relation by
    construction — same corpus, same tokenizer), so train-and-encode
    tokenizes the corpus once instead of three times."""
    pieces, vocab = _em_rounds(docs, keep, iters, max_len, "text")
    codec = _codec_from_pieces(pieces)
    return apply_unigram(docs, codec, max_len=max_len, strategy=strategy,
                         words=vocab)
