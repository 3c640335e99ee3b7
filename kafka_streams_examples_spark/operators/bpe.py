"""Byte-pair-encoding merge training over the corpus word table.

The tokenizer-training half of an LLM data pipeline: count adjacent
symbol pairs over the word-frequency table, merge the most frequent
pair, repeat. This is Sennrich et al. (ACL'16) BPE restricted to
whitespace-word boundaries — the same restriction the original
algorithm makes — so training runs over the *aggregated vocabulary*
(distinct words + counts), never the raw corpus: at 100 TB the corpus
collapses to a vocabulary table a few orders of magnitude smaller in
the first aggregation, and every subsequent iteration touches only
that table.

Merge-application contract (engine-portable by construction)
------------------------------------------------------------
A word's segmentation is its symbols joined by single spaces
(``"k e y"``). Merging pair (l, r) replaces ``" l r "`` with
``" lr "`` on the space-padded string, applied TWICE; literal
``replace`` is left-to-right non-overlapping in both Spark and DuckDB,
and the second pass catches the alternating occurrences the first
pass's consumed separators skipped. For runs of >= 5 identical
symbols this groups ``a a a a a`` as ``(aa) a (aa)`` where canonical
greedy BPE gives ``(aa) (aa) a`` — same merge count, different
residual position; the contract is the two-pass replace, identically
on both engines, so the oracle matches bit-for-bit. Ties on pair
count break to the lexicographically smallest (lhs, rhs).

No driver-side control flow: the iteration count is fixed, the best
pair stays a 1-row DataFrame attached via broadcast, and each
iteration's vocabulary is lazily localCheckpoint'ed (one job per
iteration on first action, linear total work — the
``operators/dedup.py`` CC-loop pattern).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import stable_round, tokens


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over lower-cased whitespace tokens — the only pass
    that ever reads document text."""
    return (docs.select(F.explode(tokens(text_col)).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("cnt")))


def _char_seq(word) -> F.Column:
    """Space-joined characters: 'key' -> 'k e y' (words contain no
    whitespace by construction of the tokenizer split)."""
    return F.trim(F.regexp_replace(word, "(.)", "$1 "))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    A codegen'd array expression (transform over sequence) — pairs per
    word are positions 0..n-2 of the split segmentation; only words
    with >= 2 symbols contribute."""
    arr = F.split("seq", " ")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(arr) - 2),
        lambda i: F.struct(F.get(arr, i).alias("lhs"),
                           F.get(arr, i + 1).alias("rhs")))
    return (vocab.filter(F.size(arr) >= 2)
                 .select(F.explode(pairs).alias("p"), "cnt")
                 .groupBy(F.col("p.lhs").alias("lhs"),
                          F.col("p.rhs").alias("rhs"))
                 .agg(F.sum("cnt").alias("cnt")))


def _apply_merge(seq, lhs, rhs) -> F.Column:
    """Two-pass non-overlapping literal replace on the padded string —
    the portable merge contract (module docstring)."""
    pat = F.concat(F.lit(" "), lhs, F.lit(" "), rhs, F.lit(" "))
    rep = F.concat(F.lit(" "), lhs, rhs, F.lit(" "))
    padded = F.concat(F.lit(" "), seq, F.lit(" "))
    return F.trim(F.replace(F.replace(padded, pat, rep), pat, rep))


def _train(docs: DataFrame, merges: int) -> tuple[list[DataFrame], DataFrame]:
    """Shared trainer: returns ([best_1..best_K], final vocab).

    Each best_i is the 1-row (merge_rank, lhs, rhs, merged, cnt) winner
    of iteration i; vocab is (word, seq, cnt) after all K merges. If
    the pair space exhausts before K (degenerate corpora), later merge
    rounds are no-ops: the winner attaches via LEFT join and a missing
    winner keeps every segmentation unchanged (the merge table just has
    fewer than K rows) — the python-reference `break` semantics, on both
    engines identically (hypothesis-caught: the earlier inner join
    emptied the vocabulary on single-symbol corpora)."""
    vocab = (word_counts(docs)
             .select("word", _char_seq(F.col("word")).alias("seq"), "cnt")
             .localCheckpoint(eager=False))
    bests: list[DataFrame] = []
    for i in range(merges):
        best = (_pair_counts(vocab)
                .orderBy(F.desc("cnt"), "lhs", "rhs").limit(1))
        bests.append(best.select(
            F.lit(i + 1).alias("merge_rank"), "lhs", "rhs",
            F.concat("lhs", "rhs").alias("merged"), "cnt"))
        winner = F.broadcast(best.select(F.col("lhs").alias("__bl"),
                                         F.col("rhs").alias("__br")))
        merged = F.when(F.col("__bl").isNull(), F.col("seq")) \
                  .otherwise(_apply_merge(F.col("seq"), F.col("__bl"),
                                          F.col("__br")))
        vocab = (vocab.join(winner, F.lit(True), "left")
                      .select("word", merged.alias("seq"), "cnt")
                      .localCheckpoint(eager=False))
    return bests, vocab


def bpe_train(docs: DataFrame, merges: int = 6) -> DataFrame:
    """The learned merge table: (merge_rank, lhs, rhs, merged, cnt),
    one row per iteration in training order; typed-empty for merges=0."""
    bests, _ = _train(docs, merges)
    if not bests:
        return docs.sparkSession.createDataFrame(
            [], "merge_rank int, lhs string, rhs string, "
                "merged string, cnt bigint")
    return reduce(DataFrame.unionAll, bests)


def bpe_vocab(docs: DataFrame, merges: int = 6) -> DataFrame:
    """Final segmentation table after K merges: (word, seq, cnt)."""
    _, vocab = _train(docs, merges)
    return vocab


#: Word separator used by :func:`bpe_encode`'s whole-document
#: segmentation. Any non-whitespace char absent from the corpus works;
#: \x01 is outside every tokenizer split's output for text corpora (a
#: corpus that genuinely contains \x01 would train it as an ordinary
#: symbol AND collide here — documented assumption, not checked per row).
WORD_SEP = "\x01"


def bpe_codec(docs: DataFrame, merges: int = 6) -> DataFrame:
    """Train on `docs` and return the 1-row broadcastable CODEC table:
    (__merges: array<struct<merge_rank,lhs,rhs>> in training order,
    __ids: map<symbol,int> — dense lexicographic ids over the post-merge
    symbol set). This is the learned state :func:`apply_bpe` attaches to
    any corpus or stream; both columns are built from vocabulary-scale
    tables, never the corpus."""
    bests, vocab = _train(docs, merges)
    return _codec_from_train(bests, vocab)


def _codec_from_train(bests: list[DataFrame], vocab: DataFrame) -> DataFrame:
    """Fold a trainer's (bests, vocab) into the 1-row codec — split out
    (r14) so :func:`bpe_encode` can keep the trained vocabulary
    alongside the codec instead of discarding it."""
    merge_tab = (reduce(DataFrame.unionAll, bests) if bests else None)

    syms = (vocab.select(F.explode(F.split("seq", " ")).alias("sym"))
                 .distinct())
    # one-time separator-safety assertion, vocabulary-scale (never the
    # corpus): a corpus word containing WORD_SEP would train it as a
    # symbol AND let merges cross word boundaries in apply_bpe —
    # fail loudly instead of silently corrupting token_ids
    syms = syms.select(
        F.when(F.col("sym").contains(WORD_SEP),
               F.raise_error(F.concat(
                   F.lit("bpe_codec: trained symbol contains WORD_SEP "
                         "(\\x01) — corpus violates the word-separator "
                         "assumption: "), F.col("sym"))))
         .otherwise(F.col("sym")).alias("sym"))
    # global rank over the symbol table: vocabulary-scale (distinct chars
    # + at most K merged symbols), so the single-partition window is a
    # few-hundred-row sort, not a corpus operation
    from pyspark.sql import Window
    ids = syms.select(
        "sym",
        F.row_number().over(Window.orderBy("sym")).cast("int").alias("sym_id"))

    id_map = ids.agg(F.map_from_entries(
        F.collect_list(F.struct("sym", "sym_id"))).alias("__ids"))
    if merge_tab is not None:
        merge_arr = merge_tab.agg(F.array_sort(F.collect_list(
            F.struct("merge_rank", "lhs", "rhs"))).alias("__merges"))
        return merge_arr.crossJoin(id_map)
    return id_map.select(
        F.array().cast("array<struct<merge_rank:int,lhs:string,"
                       "rhs:string>>").alias("__merges"), "__ids")


#: Distinct-word-table size above which ``strategy="auto"`` switches a
#: corpus-scale encode/score from the 1-row broadcast codec map to the
#: hash-partitioned word-keyed equi-join. A zipf-bounded vocabulary
#: (curated text) folds into a few-MB map; a web corpus's distinct
#: "words" (typos, URLs, ids) grow with corpus size and would outgrow
#: any broadcast budget — above the limit the memoized table stays a
#: TABLE and the join path applies it (the line_dedup join shape). At
#: ~40 bytes/entry the limit keeps the broadcast around 20 MB.
WORD_BROADCAST_LIMIT = 500_000


def encode_with_word_table(docs: DataFrame, per_word: DataFrame) -> DataFrame:
    """Corpus-scale application of a memoized per-distinct-word encode
    table ``(word, n, ids)`` via a word-keyed equi-join — the
    scale path when the distinct-word table exceeds
    :data:`WORD_BROADCAST_LIMIT` (the broadcast-map form caps out).

    Shape: one posexplode of the token array (positions carry document
    order through the shuffle), ONE hash-partitioned equi-join on the
    exploded token column against the word table (``shuffle_hash``
    hinted — the word side is unbounded by assumption, so Catalyst must
    never broadcast it; both sides hash-partition on the same zipf-
    distributed key, the line_dedup join shape), and one doc-keyed
    reassembly ordered by position. Documents with no tokens re-attach
    through a doc-keyed left join with the same (0, 0, '') fallbacks as
    the broadcast form — output byte-identical by the crossover tests.
    """
    toks = F.filter(tokens(F.coalesce(F.col("text"), F.lit(""))),
                    lambda x: x != "")
    ex = docs.select(F.col("doc_id"),
                     F.posexplode(toks).alias("__pos", "word"))
    agg = (ex.join(per_word.hint("shuffle_hash"), "word")
             .groupBy("doc_id")
             .agg(F.count("*").cast("long").alias("n_words"),
                  F.sum("n").cast("long").alias("n_tokens"),
                  F.array_join(F.transform(
                      F.array_sort(F.collect_list(
                          F.struct("__pos", "ids"))),
                      lambda s: s["ids"]), ",").alias("token_ids")))
    return (docs.select(F.col("doc_id"))
                .join(agg, "doc_id", "left")
                .select(F.col("doc_id"),
                        F.coalesce("n_words", F.lit(0).cast("long"))
                         .alias("n_words"),
                        F.coalesce("n_tokens", F.lit(0).cast("long"))
                         .alias("n_tokens"),
                        F.coalesce("token_ids", F.lit(""))
                         .alias("token_ids")))


def vocab_word_table(vocab: DataFrame, codec: DataFrame) -> DataFrame:
    """The memoized encode table (word, n, ids) read DIRECTLY off a
    trainer's final (word, seq, cnt) vocabulary — r14: the trainer
    already holds every distinct corpus word's final segmentation, so a
    train-and-encode composition never needs :func:`bpe_word_table`'s
    re-derivation fold (bit-identical by the module merge contract:
    apply_bpe's whole-document fold reproduces exactly the trained
    ``seq`` per word, which is also what the relational oracle joins
    against). Vocabulary-scale: one broadcast of the id map over the
    vocab table, zero corpus reads."""
    w = (vocab.join(F.broadcast(codec.select("__ids")), F.lit(True), "left")
              .withColumn("__toks", F.filter(F.split("seq", " "),
                                             lambda s: s != "")))
    return w.select(
        "word",
        F.size("__toks").cast("long").alias("n"),
        F.array_join(F.transform(
            "__toks", lambda s: F.coalesce(F.element_at(F.col("__ids"), s),
                                           F.lit(0)).cast("string")),
            ",").alias("ids"))


def encode_with_word_map(docs: DataFrame, per_word: DataFrame) -> DataFrame:
    """Corpus-scale application of a memoized (word, n, ids) table via
    a 1-row broadcast map — the :func:`operators.unigram.apply_unigram`
    "broadcast" shape: zero corpus shuffles, one scan applying the map
    per token. Requires ``per_word`` to cover every word of ``docs``
    (true by construction for train-and-encode over the same corpus —
    an uncovered word would null its lookup); open-vocabulary callers
    use :func:`encode_with_word_table` instead. Output contract and
    empty-document fallbacks identical to :func:`apply_bpe`
    (crossover-tested).

    Why (r14, guide §1.2 step 1): apply_bpe's scan-side merge fold
    re-derives each word's segmentation PER DOCUMENT OCCURRENCE — 2K
    literal-replace passes over every document string. Segmentation is
    a pure function of the word, so deriving it once per DISTINCT word
    (zipf-small) and applying by map lookup does the same work divided
    by each word's corpus frequency; measured 2.0s -> 0.7s on the
    sf0.1 encode pass."""
    wmap = per_word.agg(F.map_from_entries(F.collect_list(
        F.struct("word", F.struct("n", "ids").alias("v")))).alias("__w"))
    toks = F.filter(tokens(F.coalesce(F.col("text"), F.lit(""))),
                    lambda x: x != "")
    enc = (docs.select("doc_id", F.col("text"))
               .join(F.broadcast(wmap), F.lit(True), "left")
               .withColumn("__toks", toks))
    looked = F.transform(F.col("__toks"),
                         lambda w: F.element_at(F.col("__w"), w))
    return enc.select(
        F.col("doc_id"),
        F.size("__toks").cast("long").alias("n_words"),
        F.aggregate(looked, F.lit(0).cast("long"),
                    lambda a, v: a + v["n"]).alias("n_tokens"),
        F.array_join(F.transform(looked, lambda v: v["ids"]),
                     ",").alias("token_ids"))


def bpe_word_table(docs: DataFrame, codec: DataFrame) -> DataFrame:
    """The memoized encode table (word, n, ids) — every DISTINCT corpus
    word segmented ONCE under the trained codec (segmentation is a pure
    function of the word: the merge fold re-derives it exactly as
    :func:`apply_bpe`'s whole-document form, since merges cannot cross
    the word separator). Stays a TABLE for :func:`encode_with_word_table`;
    never folded into a driver-visible structure."""
    w = (word_counts(docs).select("word")
             .join(F.broadcast(codec), F.lit(True), "left")
             .withColumn("__enc", F.aggregate(
                 "__merges", _char_seq(F.col("word")),
                 lambda acc, m: _apply_merge(acc, m["lhs"], m["rhs"])))
             .withColumn("__toks", F.filter(F.split("__enc", " "),
                                            lambda s: s != "")))
    return w.select(
        "word",
        F.size("__toks").cast("long").alias("n"),
        F.array_join(F.transform(
            "__toks", lambda s: F.coalesce(F.element_at(F.col("__ids"), s),
                                           F.lit(0)).cast("string")),
            ",").alias("ids"))


def apply_bpe(docs: DataFrame, codec: DataFrame, strategy: str = "broadcast",
              word_limit: int = WORD_BROADCAST_LIMIT) -> DataFrame:
    """Scan-side encode of `docs` with a trained :func:`bpe_codec` —
    stateless Column expressions after a broadcast nested-loop join of
    the codec's single row, so the SAME function encodes a batch corpus
    and a streaming DataFrame (stream-static join; see
    streaming/pipelines.py:streaming_bpe_encode).

    ``strategy`` sizes the corpus-scale application ("broadcast" — the
    default scan-side fold, right for bounded vocabularies and the only
    streaming-compatible form; "join" — memoize every distinct word
    once via :func:`bpe_word_table` and apply it through
    :func:`encode_with_word_table`, the open-vocabulary scale path;
    "auto" — count the distinct-word table and pick, the adaptive_r
    measure-then-switch convention at the price of one counting job).
    All strategies are output byte-identical (crossover-tested).

    OOV contract: a word absent from training still segments correctly
    (the merge fold re-derives segmentations; no vocabulary lookup), and
    any resulting symbol outside the codec's id map — only possible via
    a CHARACTER never seen in training — encodes as the reserved UNK id
    0 (dense ranks start at 1). Without the explicit fallback,
    ``array_join`` would silently drop null ids and under-count."""
    if strategy == "auto":
        n = word_counts(docs).count()
        strategy = "broadcast" if n <= word_limit else "join"
    if strategy == "join":
        return encode_with_word_table(
            docs, bpe_word_table(docs, codec))
    if strategy != "broadcast":
        raise ValueError(f"apply_bpe: unknown strategy {strategy!r}")
    words = F.filter(tokens(F.coalesce(F.col("text"), F.lit(""))),
                     lambda x: x != "")
    enc = (docs.select("doc_id", F.col("text"))
               .join(F.broadcast(codec), F.lit(True), "left")
               .withColumn("__words", words)
               .withColumn("__seg", F.array_join(
                   F.transform("__words", _char_seq), f" {WORD_SEP} "))
               .withColumn("__enc", F.aggregate(
                   "__merges", F.col("__seg"),
                   lambda acc, m: _apply_merge(acc, m["lhs"], m["rhs"])))
               .withColumn("__toks", F.filter(
                   F.split("__enc", " "),
                   lambda s: (s != WORD_SEP) & (s != ""))))
    return enc.select(
        F.col("doc_id"),
        F.size("__words").cast("long").alias("n_words"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.array_join(F.transform(
            "__toks", lambda s: F.coalesce(F.element_at(F.col("__ids"), s),
                                           F.lit(0))
                                 .cast("string")), ",").alias("token_ids"))


def bpe_encode(docs: DataFrame, merges: int = 6,
               strategy: str = "broadcast") -> DataFrame:
    """Tokenize the corpus with the learned merges: per-document token-id
    sequences — the production step between tokenizer training
    (:func:`bpe_train`) and sequence packing / token counting.

    Returns (doc_id, n_words, n_tokens, token_ids) where token_ids is the
    comma-joined id sequence (the portable hash-verification surface; a
    downstream consumer keeps the int array this stringifies).

    100 TB design: encoding is ONE corpus scan with zero corpus shuffles.
    The learned state is ONE 1-row broadcast built from vocabulary-scale
    tables. r14: because this composition trains and encodes the SAME
    corpus, the trainer's final vocabulary already holds every word's
    segmentation — the encode pass reads it (:func:`vocab_word_table`)
    instead of re-deriving the K-merge fold per document occurrence.
    "broadcast" applies that table as a 1-row word->ids map at scan
    speed (:func:`encode_with_word_map`); "join" keeps it a TABLE and
    applies the hash-partitioned word-keyed equi-join
    (:func:`encode_with_word_table` — the open-vocabulary scale path);
    "auto" counts and picks. All strategies byte-identical to the
    historical apply_bpe fold (module merge contract: the fold
    reproduces exactly the trained ``seq`` per word — crossover-tested,
    same oracle). Encoding a DIFFERENT corpus under a trained codec
    (where out-of-vocabulary words exist) remains :func:`apply_bpe`,
    whose merge fold segments OOV words correctly scan-side.
    """
    bests, vocab = _train(docs, merges)
    codec = _codec_from_train(bests, vocab)
    per_word = vocab_word_table(vocab, codec)
    if strategy == "auto":
        n = per_word.count()
        strategy = "broadcast" if n <= WORD_BROADCAST_LIMIT else "join"
    if strategy == "join":
        return encode_with_word_table(docs, per_word)
    if strategy != "broadcast":
        raise ValueError(f"bpe_encode: unknown strategy {strategy!r}")
    return encode_with_word_map(docs, per_word)


def bpe_fertility(docs: DataFrame, merges: int = 6) -> DataFrame:
    """Tokenizer fertility (symbols per word) per document group after
    K merges — the standard tokenizer-quality diagnostic (a vocabulary
    that compresses one domain but not another shows up here first).

    Composes the trainer with a per-(group, word) corpus count and a
    vocabulary join: the corpus is read twice (once into the trainer's
    word table, once for group counts), the segmentation table joins on
    the word key, and only (group, word, cnt) triples shuffle. Returns
    (group, n_words, n_symbols, fertility) with fertility = symbols /
    words rounded at 4 (exact-integer doubles in, portable rounding
    out)."""
    vocab = bpe_vocab(docs, merges)
    per_gw = (docs.select(F.col("source").alias("grp"),
                          F.explode(tokens("text")).alias("word"))
                  .filter(F.col("word") != "")
                  .groupBy("grp", "word").agg(F.count("*").alias("c")))
    n_sym = F.size(F.split("seq", " "))
    joined = per_gw.join(vocab, "word").select(
        "grp", "c", (F.col("c") * n_sym).alias("syms"))
    return (joined.groupBy(F.col("grp").alias("source"))
                  .agg(F.sum("c").alias("n_words"),
                       F.sum("syms").alias("n_symbols"))
                  .select("source", "n_words", "n_symbols",
                          stable_round(F.col("n_symbols")
                                       / F.col("n_words"), 4)
                          .alias("fertility")))
