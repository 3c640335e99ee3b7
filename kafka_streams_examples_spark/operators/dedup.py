"""Deduplication operators.

Two families:
1. Event dedup with a time-TTL (reference T2,
   EventDeduplicationLambdaIntegrationTest.java:84-158): drop a record if
   the same id was seen within the TTL. Batch analog = lag window per key.
   Streaming analog = dropDuplicatesWithinWatermark (streaming/dedup.py).
2. Document dedup for training-data pipelines (beyond-reference): exact
   (hash), MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine — all
   designed so the expensive comparison is confined to candidate buckets,
   never all-pairs, which is the only formulation that survives 100 TB.

Hashing note: operators that are oracle-verified use an md5-derived hash
(portable to DuckDB); xxhash64 would be ~4x faster JVM-side but has no
DuckDB twin.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import md5_hash64, stable_round, tokens, word_shingles


def dedup_within_ttl(df: DataFrame, keys: Sequence[str], ttl_seconds: int,
                     ts_col: str = "ts",
                     tiebreak: Sequence[str] = ()) -> DataFrame:
    """Keep a row unless the previous row with the same key is within ttl.

    Batch contract for the reference's windowed dedup (T2): "seen within
    ttl of the previous occurrence" — sequential per key, one shuffle+sort.
    Integer-microsecond math for exact oracle parity.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    prev = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    keep = prev.isNull() | (F.unix_micros(F.col(ts_col)) - prev > ttl_seconds * 1_000_000)
    return df.withColumn("__keep", keep).filter(F.col("__keep")).drop("__keep")


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: group identical texts by md5, keep the smallest id.

    Hash-groupBy — map-side partial aggregation makes this one light
    shuffle of (hash, id) pairs regardless of document size; project the
    hash BEFORE the shuffle so full text never moves.
    """
    return (docs.select(F.md5(F.col("text")).alias("text_md5"), F.col("doc_id"))
                .groupBy("text_md5")
                .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_dupes")))


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct n-word shingles per doc: (doc_id, shingle)."""
    return (docs
            .select(F.col("doc_id"), tokens("text").alias("toks"))
            .filter(F.size("toks") >= n)
            .select("doc_id", F.explode(word_shingles(F.col("toks"), n)).alias("shingle"))
            .distinct())


def doc_shingle_hashes(docs: DataFrame, n: int = 3,
                       toks_col: str | None = None) -> DataFrame:
    """Distinct 64-bit shingle hashes per doc: (doc_id, shingle long).

    For set-similarity joins the shingle TEXT is irrelevant — only identity
    matters — so hash to int64 before the distinct: the dedup shuffle and
    the self-join both move 8-byte keys instead of n-word strings, and the
    join compares longs. xxhash64 collisions are negligible at any
    realistic corpus size (~n^2/2^64).

    Deliberately NOT the "zero-shuffle" per-row array_distinct form:
    (doc_id, shingle) duplicates only occur within a document, so a
    per-row array_distinct before the explode would dedup without any
    exchange — but this relation feeds a self-join (twice) plus the
    per-doc sizes aggregate, and the global distinct's exchange is the
    materialization point AQE reuses for all three consumers. Measured
    same-session at sf0.1: distinct 1.63s vs scan-side 2.73s for the full
    Jaccard pipeline — one shuffle + exchange reuse beats recomputing the
    tokenize/shingle pipeline per consumer, locally and on a cluster
    (one pass over the text, 8-byte rows over the wire).

    ``toks_col``: the caller already tokenized (a shared/materialized
    (id, token-array) relation — dedup_recall runs THREE detectors over
    one corpus); use that column instead of re-parsing text. Same token
    array, same downstream values.
    """
    tk = F.col(toks_col) if toks_col is not None else tokens("text")
    return (docs
            .select(F.col("doc_id"), tk.alias("toks"))
            .filter(F.size("toks") >= n)
            .select("doc_id", F.explode(word_shingles(F.col("toks"), n)).alias("s"))
            .select("doc_id", F.xxhash64("s").alias("shingle"))
            .distinct())


# Affine-permutation constants for MinHash: perm_i(h) = (A[i]*h + B[i]) % P
# with h < M so A[i]*h + B[i] < 2^31 * 2^30 + P < 2^62 — no int64 overflow in
# either engine (DuckDB BIGINT errors on overflow rather than wrapping, so
# staying in range is a correctness requirement, not just hygiene).
MINHASH_P = 2_147_483_647          # 2^31 - 1 (prime)
MINHASH_M = 1_073_741_824          # 2^30: base-hash range
MINHASH_A = [1000000007, 1000000021, 998244353, 754974721,
             167772161, 469762049, 1073741827, 1999999973]
MINHASH_B = [17, 101, 1009, 10007, 100003, 1000003, 1234577, 7654321]
#: the one shape of `minhash_doc_profile`: the corpus index that
#: streaming/dedup.py's `near_dup_index` builds and the profile that
#: `stream_near_dup` probes it with must agree on all three
PROFILE_HASHES, PROFILE_BANDS, PROFILE_N = 8, 4, 3


def minhash_shingle_hashes(docs: DataFrame, distinct: bool = True,
                           toks_col: str | None = None) -> DataFrame:
    """md5-derived shingle hashes h < 2^30 per doc: (doc_id, h).

    The shared base relation of the MinHash family. distinct=False skips
    the dedup shuffle and returns the raw multiset — correct whenever the
    consumer is duplicate-insensitive (MIN aggregates) or dedups in its own
    aggregation (count_distinct): a scan-only pipeline beats paying an
    extra full shuffle just to dedup. ``toks_col``: use a caller-supplied
    token-array column instead of re-tokenizing (see doc_shingle_hashes).
    """
    tk = F.col(toks_col) if toks_col is not None else tokens("text")
    out = (docs
           .select(F.col("doc_id"), tk.alias("toks"))
           .filter(F.size("toks") >= 3)
           .select("doc_id", F.explode(word_shingles(F.col("toks"), 3)).alias("s"))
           .select("doc_id", (md5_hash64(F.col("s")) % MINHASH_M).alias("h")))
    return out.distinct() if distinct else out


def minhash_signatures(docs: DataFrame, num_hashes: int = 8,
                       n: int = 3) -> DataFrame:
    """MinHash signature per document (portable md5+affine permutations).

    One md5 per shingle reduced to h < 2^30, then num_hashes affine
    permutations (A*h+B) % P — 8x less hashing than md5-per-permutation.
    The affine map of an md5-mixed value stays uniform mod the prime P,
    and the identical arithmetic runs in DuckDB, which is what makes this
    oracle-verifiable.

    ZERO shuffles: one array fold per row carries all num_hashes running
    minima, so signatures are scan-side — each shingle is md5'd once and
    the doc never leaves its input partition. Values are bit-identical to
    the explode+groupBy form minhash_lsh_pairs uses to share its
    tokenize/hash pipeline with the Jaccard verify (min over the same
    multiset).
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes > {len(MINHASH_A)} needs more constants")
    toks = tokens("text")
    d = (docs.select(F.col("doc_id"), toks.alias("__toks"))
             .filter(F.size("__toks") >= n)
             .select(F.col("doc_id"),
                     F.transform(word_shingles(F.col("__toks"), n),
                                 lambda s: md5_hash64(s) % MINHASH_M)
                      .alias("__hs")))
    return d.select("doc_id", *[
        F.array_min(F.transform(
            "__hs",
            lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i]))
                      % MINHASH_P)).alias(f"mh{i}")
        for i in range(num_hashes)])


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 8, bands: int = 4,
                      jaccard_threshold: float = 0.5,
                      toks_col: str | None = None) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding + exact Jaccard verify.

    Scale path: docs only ever meet inside an LSH bucket (band value
    equality), so the join is an equi-join on the band hash — no all-pairs
    stage exists. Bucket skew (a degenerate shingle shared by millions of
    docs) is bounded because band values are md5 over `rows` shingle mins.

    The Jaccard verify runs over the SAME hashed-shingle relation the
    signatures aggregate (sets are identical, so jac is identical), and
    only over docs appearing in some candidate pair — so the verify
    inverted-index join is sized by |candidates|, not by the corpus, and
    the tokenize/hash pipeline is shared across branches (ReuseExchange).
    """
    rows = num_hashes // bands
    # raw (non-distinct) shingle hashes: MIN permutations are duplicate-
    # insensitive and the set size dedups inside the aggregate, so the
    # whole base relation is scan-only — no dedup shuffle anywhere
    sh_h = minhash_shingle_hashes(docs, distinct=False, toks_col=toks_col)
    # signatures keep only the MIN permutations on the critical path
    # (sigs -> banding -> candidates); the per-doc DISTINCT set size —
    # a pricier two-level aggregate — lives on its own branch, consumed
    # only by the final jac projection, so it runs concurrently with the
    # banding chain instead of delaying it
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % MINHASH_P)
         .alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    sigs = sh_h.groupBy("doc_id").agg(*aggs)
    sizes = sh_h.groupBy("doc_id").agg(F.count_distinct("h").alias("sz"))
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])).alias("band_val")
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col("doc_id"),
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
             .distinct())
    # exact-Jaccard verify driven BY the candidate pairs: attach d1's
    # shingle hashes, keep rows where d2 shares the hash, count. Work is
    # |cand| x avg set size — no inverted-index self-join at all, and AQE
    # broadcasts whichever side is small at runtime.
    e1 = sh_h.select(F.col("doc_id").alias("d1"), "h")
    e2 = sh_h.select(F.col("doc_id").alias("d2"), "h")
    # count_distinct: both sides are raw multisets, so a shared hash seen
    # j×k times collapses back to one intersection element
    inter = (cand.join(e1, "d1")
                 .join(e2, ["d2", "h"])
                 .groupBy("d1", "d2")
                 .agg(F.count_distinct("h").alias("inter")))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("d1"),
                               F.col("sz").alias("sz1")), "d1")
            .join(sizes.select(F.col("doc_id").alias("d2"),
                               F.col("sz").alias("sz2")), "d2")
            .select("d1", "d2",
                    stable_round(F.col("inter")
                                 / (F.col("sz1") + F.col("sz2")
                                    - F.col("inter")), 4)
                     .alias("jac"))
            .filter(F.col("jac") >= jaccard_threshold))


def minhash_doc_profile(docs: DataFrame) -> DataFrame:
    """Per-document minhash profile as ONE stateless projection —
    (doc_id, __hs distinct shingle hashes, __bands band values) — the
    streaming-safe form of the signature pipeline: every column is a
    scan-side array fold (tokens → shingles → md5+mod → per-permutation
    array minima → banded md5), so it runs identically on a batch
    DataFrame and on a readStream with NO shuffle and NO state. Band
    values are bit-identical to `minhash_lsh_pairs`' (same affine
    constants, same '|' concat), which is what lets a streaming consumer
    join a batch-built index. Its shape is ``PROFILE_HASHES`` permutations
    in ``PROFILE_BANDS`` bands over ``PROFILE_N``-word shingles, one shape
    for the index and the probe."""
    rows = PROFILE_HASHES // PROFILE_BANDS
    toks = tokens("text")
    d = (docs.select("*", toks.alias("__toks"))
             .filter(F.size("__toks") >= PROFILE_N)
             .withColumn("__hs", F.array_distinct(
                 F.transform(word_shingles(F.col("__toks"), PROFILE_N),
                             lambda s: md5_hash64(s) % MINHASH_M))))
    mh = [F.array_min(F.transform(
             "__hs",
             lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i]))
                       % MINHASH_P)).alias(f"__mh{i}")
          for i in range(PROFILE_HASHES)]
    d = d.select(F.col("doc_id"), "__hs", *mh)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"__mh{b * rows + r}")
                                 for r in range(rows)]))
        for b in range(PROFILE_BANDS)]
    return d.select("doc_id", "__hs", F.array(*band_cols).alias("__bands"))


def incremental_minhash_pairs(new_docs: DataFrame, corpus: DataFrame,
                              num_hashes: int = 8, bands: int = 4,
                              jaccard_threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING corpus — the
    day-over-day shape 100 TB dedup actually runs in: the corpus's band
    signatures are a precomputed index (at scale: written once,
    partitioned by band value, reread per batch), today's batch is
    orders of magnitude smaller, and the candidate join is strictly
    batch-bands x corpus-bands. Corpus x corpus never happens — the
    quadratic term the full `minhash_lsh_pairs` pays every run is
    replaced by |batch| x bucket-occupancy, and AQE broadcasts the batch
    side. Same signature/band/verify arithmetic as `minhash_lsh_pairs`
    (so the two compose: run the full pass once, this one per increment).

    The two inputs must be id-disjoint (the caller's batch predicate
    guarantees it); output is (new_id, corpus_id, jac) at
    ``jac >= jaccard_threshold``, exact Jaccard over the same hashed
    shingle sets the signatures minimize.
    """
    rows = num_hashes // bands
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % MINHASH_P)
         .alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]))
         .alias("band_val")
        for b in range(bands)
    ]

    def index(docs_df: DataFrame, out_id: str):
        sh = minhash_shingle_hashes(docs_df, distinct=False)
        sigs = sh.groupBy("doc_id").agg(*aggs)
        banded = sigs.select(
            F.col("doc_id").alias(out_id),
            F.posexplode(F.array(*band_cols)).alias("band_id", "band_val"))
        sizes = sh.groupBy("doc_id").agg(F.count_distinct("h").alias("sz")) \
                  .select(F.col("doc_id").alias(out_id), "sz")
        hashes = sh.select(F.col("doc_id").alias(out_id), "h")
        return banded, sizes, hashes

    nb, nsz, nh = index(new_docs, "new_id")
    cb, csz, ch = index(corpus, "corpus_id")
    cand = (nb.join(cb, ["band_id", "band_val"])
              .select("new_id", "corpus_id").distinct())
    inter = (cand.join(nh, "new_id")
                 .join(ch, ["corpus_id", "h"])
                 .groupBy("new_id", "corpus_id")
                 .agg(F.count_distinct("h").alias("inter")))
    # stable_round, not F.round: integer-ratio Jaccards land on exact
    # X.XXXX5 boundaries (1/32 = 0.03125), where Spark's HALF_UP decimal
    # and DuckDB's double round() disagree — the DESIGN.md rounding
    # policy for post-r5 oracle-graded outputs
    from ..functions import stable_round
    return (inter
            .join(nsz.withColumnRenamed("sz", "sz1"), "new_id")
            .join(csz.withColumnRenamed("sz", "sz2"), "corpus_id")
            .select("new_id", "corpus_id",
                    stable_round(F.col("inter")
                                 / (F.col("sz1") + F.col("sz2")
                                    - F.col("inter")), 4)
                     .alias("jac"))
            .filter(F.col("jac") >= jaccard_threshold))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        max_df: int | None = None,
                        toks_col: str | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for doc pairs sharing >= 1 shingle.

    Inverted-index join: explode shingles, self-join on the 64-bit shingle
    hash, count intersections, derive |union| from per-doc set sizes. The
    quadratic blowup is limited to docs sharing a shingle; at scale pass
    max_df to drop boilerplate shingles whose posting list exceeds the cap
    (bounds self-join output by n_shingles * max_df^2 — operators/skew.py),
    which changes reported sizes/similarities only for pairs dominated by
    boilerplate. The LSH variant is the primary scale path.
    """
    sh = doc_shingle_hashes(docs, n=n, toks_col=toks_col)
    if max_df is not None:
        from .skew import drop_hot_keys
        sh = drop_hot_keys(sh, ["shingle"], max_df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
              .agg(F.count("*").alias("inter")))
    out = (inter
           .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
           .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
           .select("d1", "d2",
                   stable_round(F.col("inter")
                                / (F.col("sz1") + F.col("sz2")
                                   - F.col("inter")), 4)
                    .alias("jac")))
    return out.filter(F.col("jac") >= threshold)


def simhash(docs: DataFrame, bits: int = 16,
            toks_col: str | None = None) -> DataFrame:
    """SimHash fingerprint over token multiset (portable md5-derived bits).

    bit_j(doc) = sign of sum over tokens of (+1 if hash bit j else -1).
    Expressed as `bits` conditional-sum aggregates over the exploded
    tokens — all JVM-side, one shuffle keyed by doc id.
    """
    tk = F.col(toks_col) if toks_col is not None else tokens("text")
    toks = (docs.select(F.col("doc_id"), F.explode(tk).alias("word"))
                .filter(F.col("word") != "")
                .withColumn("h", md5_hash64(F.col("word"))))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") >= 0, 2 ** j).otherwise(0)
        fp = term if fp is None else fp + term
    return per_doc.select(F.col("doc_id"), fp.cast("long").alias("simhash"))


def simhash_hamming_pairs(docs: DataFrame, bits: int = 32, bands: int = 4,
                          max_hamming: int = 3,
                          toks_col: str | None = None) -> DataFrame:
    """SimHash near-duplicate pairs via bit-band LSH + exact Hamming verify.

    Pigeonhole recall guarantee: two fingerprints within Hamming distance
    `max_hamming` <= bands - 1 differ in at most `bands - 1` bit positions,
    so at least one of the `bands` equal-width bit bands is IDENTICAL —
    an equi-join on (band_id, band_value) finds every such pair without an
    all-pairs stage. Verification is a single codegen'd
    bit_count(h1 XOR h2) on the candidate set.

    Scale shape (the reason this survives 100 TB where sorting fingerprints
    doesn't): fingerprints are one int64 per doc, the banding explode is
    `bands` rows of (int, int, int64) per doc, and the candidate join is an
    ordinary shuffled equi-join whose buckets are bounded by band-value
    collisions (2^(bits/bands) values), not corpus size. Raising `bits`
    sharpens bucket selectivity at zero extra shuffle width.
    """
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    if max_hamming > bands - 1:
        raise ValueError("pigeonhole guarantee needs max_hamming <= bands - 1")
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(docs, bits=bits, toks_col=toks_col)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.shiftright(F.col("simhash"), b * width)
                      .bitwiseAND(F.lit(mask)).alias("band_val"))
            for b in range(bands)
        ])).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("d1"),
                     F.col("b.doc_id").alias("d2"),
                     F.col("a.simhash").alias("h1"),
                     F.col("b.simhash").alias("h2"))
             .distinct())
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (cand.select("d1", "d2", ham.cast("long").alias("hamming"))
                .filter(F.col("hamming") <= max_hamming))


def winnow_fingerprints(docs: DataFrame, w: int = 4, n: int = 3) -> DataFrame:
    """Winnowing fingerprints: distinct minima of each sliding window of
    `w` consecutive shingle hashes (MOSS-style local fingerprinting).

    Guarantees at least one shared fingerprint for any match of length
    >= w + n - 1 tokens between two documents — positional, unlike MinHash
    (whole-set sketch), so it localizes partial overlap. One ordered
    window-min per doc + a distinct on (doc, int64): the shuffle carries
    ids and hashes only. Trailing windows are frame-clipped (< w rows)
    rather than dropped; both engines clip identically so the contract
    stays deterministic.
    """
    sh = (docs.select(F.col("doc_id"), tokens("text").alias("toks"))
              .filter(F.size("toks") >= n)
              .select("doc_id",
                      F.posexplode(word_shingles(F.col("toks"), n))
                       .alias("pos", "s"))
              .select("doc_id", "pos", md5_hash64(F.col("s")).alias("h")))
    win = (Window.partitionBy("doc_id").orderBy("pos")
                 .rowsBetween(Window.currentRow, w - 1))
    return (sh.select(F.col("doc_id"), F.min("h").over(win).alias("fp"))
              .distinct())


def signlsh_weights(planes: int, dim: int, salt: str = "slsh") -> list[list[float]]:
    """Deterministic random-hyperplane matrix, identical in every engine.

    Entries are md5-derived values in [-1, 1] with 3-decimal resolution:
    w[p][j] = (md5(salt:p:j) % 2001 - 1000) / 1000. Generated driver-side
    once (planes x dim floats — a constant) and baked into the plan as
    literals; the oracle bakes the same decimals, so sign bits can't drift
    between engines via hash differences.
    """
    import hashlib
    return [[(int(hashlib.md5(f"{salt}:{p}:{j}".encode()).hexdigest()[:15], 16)
              % 2001 - 1000) / 1000.0
             for j in range(dim)]
            for p in range(planes)]


def signlsh_dots(vec, planes: int, dim: int, salt: str = "slsh"):
    """All `planes` hyperplane dot products of one vector as a single
    array<double> column, each engine-portably stable_round(…, 6)'d:
    ONE transform over the planes×dim weight-matrix literal (which
    ConstantFolding collapses to a single array<array<double>> literal)
    instead of `planes` separate fold expressions. Same arithmetic and
    rounding as the historical per-plane folds — the left-to-right
    zip_with/aggregate dot per plane is unchanged — but the expression
    tree and generated code shrink ~planes×, which is the dominant cost
    of the LSH kNN tiers (r8: knn_multiprobe's wall time was measured
    flat across SFs, i.e. compile-constant-bound, not data-bound).

    r14: the matrix literal is built by ONE ``F.expr`` SQL parse instead
    of planes×dim ``F.lit`` py4j round-trips. Query CONSTRUCTION is
    driver-side Python, and each of the ~1,000 lit/array calls is a
    synchronous JVM round-trip (~0.8 ms on this box — measured 2.8s of
    knn_multiprobe's 4.5s build inside this function). ``repr(x)`` is
    shortest-roundtrip, so ``CAST(repr AS DOUBLE)`` parses to the
    bit-identical double ``F.lit(x)`` would have shipped; the ``D``
    suffix marks a SQL double literal (a bare ``0.123`` would parse as
    DECIMAL)."""
    from ..functions import stable_round
    W = signlsh_weights(planes, dim, salt)
    # repr() of a non-finite double ('inf'/'nan') is not a parseable SQL
    # literal; today's md5-derived weights are bounded in [-1, 1], but a
    # future weight source must fail loudly at build, not at parse
    if not all(math.isfinite(x) for row in W for x in row):
        raise ValueError(
            "signlsh weights must be finite to serialize as SQL literals")
    w_lit = F.expr("array(" + ",".join(
        "array(" + ",".join(f"{x!r}D" for x in row) + ")"
        for row in W) + ")")
    return F.transform(
        w_lit,
        lambda wp: stable_round(
            F.aggregate(F.zip_with(vec, wp, lambda x, y: x.cast("double") * y),
                        F.lit(0.0), lambda acc, x: acc + x), 6))


def signlsh_masks(planes: int):
    """array<long> literal [1, 2, 4, …, 2^(planes-1)] — plane p's bucket
    bit weight, shared by bucket assembly and multi-probe flipping.
    One SQL parse (r14): ``NL`` is a SQL BIGINT literal."""
    return F.expr(
        "array(" + ",".join(f"{2 ** p}L" for p in range(planes)) + ")")


def signlsh_bucket_bits(vec, planes: int, dim: int,
                       salt: str = "slsh"):
    """Sign-LSH bucket id for one vector: `planes` sign bits of dot
    products against the fixed md5-derived hyperplane matrix — a pure
    codegen'd fold per row. THE canonical bucket definition: every
    sign-LSH consumer (embedding_signlsh_pairs, the multi-probe kNN)
    must use this helper so the same vector can never land in different
    buckets depending on which operator hashed it. Sign bits are taken
    on the engine-portable stable_round(dot, 6), matching the oracle's
    floor(x*1e6 + 0.5)/1e6 exactly (built-in round() diverges on
    half-boundary doubles — see functions.stable_round).
    """
    return signlsh_bits_from_dots(signlsh_dots(vec, planes, dim, salt),
                                  planes)


def signlsh_bits_from_dots(dots, planes: int):
    """Bucket id from an already-computed (rounded) dots array: sum of
    2^p over the non-negative planes. Split out so callers that also
    need the dots (multi-probe margins) hash ONE dots expression instead
    of recomputing every plane dot per consumer."""
    return F.aggregate(
        F.zip_with(dots, signlsh_masks(planes),
                   lambda d, m: F.when(d >= 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def embedding_signlsh_pairs(emb: DataFrame, planes: int = 8, dim: int = 64,
                            threshold: float = 0.25,
                            salt: str = "slsh") -> DataFrame:
    """Embedding near-dup pairs via sign-LSH (random hyperplane) bucketing.

    The unlabeled-corpus scale path: each vector's bucket is `planes` sign
    bits of dot products against a fixed hyperplane matrix — a pure
    codegen'd array fold per row, NO shuffle to assign buckets — and
    candidates only meet inside a bucket (equi-join), never all-pairs.
    Cosine similarity of two unit-ish vectors relates directly to the
    probability their sign bits agree (Goemans-Williamson / Charikar
    SimHash-for-vectors), so close pairs collide with high probability
    while the expected bucket occupancy n/2^planes bounds the verify join.

    Contrast with the blocked variant (embedding_near_dup_pairs needs a
    label/cluster column) and IVF (needs trained centroids): sign-LSH
    needs nothing but the vectors. Recall is probabilistic; raise recall
    at scale by unioning a few salted repetitions (independent tables) or
    multi-probing neighbor buckets — both stay equi-joins. Sign bits are
    taken on the dot rounded to 6 decimals so the bucket id is identical
    across engines.
    """
    from ..functions import dot_product, l2_norm
    v = F.col("embedding")
    tagged = emb.select(F.col("vec_id"), v.alias("__v"),
                        signlsh_bucket_bits(v, planes, dim, salt).alias("__bk"),
                        l2_norm(v).alias("__n"))
    a = tagged.select(F.col("vec_id").alias("d1"), F.col("__v").alias("v1"),
                      F.col("__bk").alias("bk"), F.col("__n").alias("n1"))
    b = tagged.select(F.col("vec_id").alias("d2"), F.col("__v").alias("v2"),
                      F.col("__bk").alias("bk"), F.col("__n").alias("n2"))
    from ..functions import stable_round as _sr
    sim = dot_product(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    return (a.join(b, ["bk"]).filter(F.col("d1") < F.col("d2"))
             .select("d1", "d2", _sr(sim, 4).alias("cos_sim"))
             .filter(F.col("cos_sim") >= threshold))


def connected_components_star(edges: DataFrame, nodes: DataFrame,
                              src_col: str = "d1", dst_col: str = "d2",
                              id_col: str = "doc_id",
                              max_iterations: int = 50) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    O(log n)-round scale path for adversarially long-diameter graphs,
    behind the same contract as :func:`connected_components` (including
    its output-domain contract: one row per ``nodes`` row, no more).

    Each round rewrites the edge set twice:

    - large-star: per node u with m = min(N(u) ∪ {u}), re-attach every
      LARGER neighbor v > u directly to m — halves long chains.
    - small-star: orient edges toward the smaller endpoint; per node u
      with smaller-neighborhood minimum m, attach u and all its smaller
      neighbors to m — flattens local stars.

    Both steps emit only (int64, int64) pairs, shuffle on the node id,
    and preserve connectivity while monotonically pulling components
    toward their minimum id; at the fixpoint every non-minimum node holds
    exactly the edge (node, component_min). Convergence is checked
    exactly (set equality via count + left-anti emptiness), and each
    round is localCheckpoint-truncated like the propagation variant.
    """
    canon = (edges.select(
                F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("hi"),
                F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("lo"))
             .filter(F.col("hi") != F.col("lo"))
             .distinct())
    # edge count rides the materialization job via observe (see the
    # propagation variant) — one job, not checkpoint + count
    obs = Observation()
    canon = (canon.observe(obs, F.count(F.lit(1)).alias("n"))
                  .localCheckpoint(eager=True))
    n_prev = obs.get["n"]
    for _ in range(max_iterations):
        # --- large-star ---------------------------------------------------
        sym = (canon.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
                    .union(canon.select(F.col("lo").alias("u"),
                                        F.col("hi").alias("v"))))
        mins = (sym.groupBy("u")
                   .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        ls = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .filter(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                 .distinct())
        # --- small-star ---------------------------------------------------
        smins = (ls.groupBy("hi").agg(F.min("lo").alias("m")))
        joined = ls.join(smins, "hi")
        ss = (joined.filter(F.col("lo") != F.col("m"))
                    .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
              .union(joined.select("hi", F.col("m").alias("lo")))
              .filter(F.col("hi") != F.col("lo"))
              .distinct())
        obs = Observation()
        # the round count rides the checkpoint job (observe fusion)
        ss = (ss.observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
        n_new = obs.get["n"]
        if n_prev == n_new and ss.join(canon, ["hi", "lo"], "left_anti").isEmpty():
            canon = ss
            break
        canon, n_prev = ss, n_new
    lbl = canon.groupBy("hi").agg(F.min("lo").alias("__cl"))
    return (nodes.select(F.col(id_col))
                 .join(lbl, nodes[id_col] == lbl["hi"], "left")
                 .select(F.col(id_col),
                         F.coalesce(F.col("__cl"), F.col(id_col).cast("long"))
                          .alias("cluster_id")))


def connected_components(edges: DataFrame, nodes: DataFrame,
                         src_col: str = "d1", dst_col: str = "d2",
                         id_col: str = "doc_id",
                         max_iterations: int = 50,
                         algorithm: str = "propagation") -> DataFrame:
    """Cluster assignment over a pair graph: (node, cluster_id = min reachable id).

    The step a real dedup pipeline needs AFTER pair generation: near-dup
    pairs (from LSH/Jaccard/SimHash) form a graph; each connected component
    is one duplicate cluster, and the canonical representative is the
    minimum doc id in the component.

    Output-domain contract (both variants): the result has EXACTLY one row
    per row of ``nodes`` — edge endpoints absent from ``nodes`` still
    participate in label propagation (they carry connectivity) but are not
    emitted, and nodes untouched by any edge come back self-labeled. For
    dedup pipelines endpoints ⊆ nodes by construction; callers that want
    labels for bare endpoints must union them into ``nodes``.

    Algorithm: iterative min-label propagation. labels start as self; each
    round every node takes min(own label, neighbors' labels) — a join on
    the symmetrized edge list + a groupBy min, 2 shuffles per round,
    O(component diameter) rounds. Convergence is detected by the monotone
    invariant sum(labels): labels only ever decrease, so an unchanged sum
    IS the fixpoint (one scalar aggregate per round, no comparison join).

    100 TB design: near-dup components are clique-ish (diameter 2-3), so
    propagation converges in a handful of rounds; the edge relation is
    materialized once (lazy localCheckpoint — cached blocks AND a
    truncated logical plan, so per-round planning cost is independent of
    the upstream pair pipeline) and every round shuffles only
    (int64, int64) pairs. For
    adversarially long path graphs, pass algorithm="star" to run the
    O(log n)-round large-star/small-star variant
    (:func:`connected_components_star`) behind the same contract;
    diameter-bound propagation is the right default for dedup workloads,
    whose components are clique-ish.
    """
    if algorithm == "star":
        return connected_components_star(edges, nodes, src_col, dst_col,
                                         id_col, max_iterations)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # lazy localCheckpoint, NOT persist: both cache the symmetrized edges
    # across rounds, but persist leaves sym's LOGICAL plan as the full
    # upstream pair pipeline (LSH join / knn graph / …), and every
    # per-round localCheckpoint below re-pays Catalyst analysis + cache
    # canonicalization of that whole tree — measured 0.76–1.0s PER ROUND
    # on the semantic_prune / dedup_keep_best edge pipelines, the
    # dominant cost of the loop at sf0.1. The checkpoint truncates sym
    # to a LogicalRDD once, so each round analyzes only the round's own
    # join+agg. Rows are identical; materialization still happens on the
    # first job (the initial labels checkpoint below), same as the
    # persisted form. Lifetime note (r15): sym's checkpointed blocks —
    # like each round's label blocks — are freed when the ContextCleaner
    # GCs the RDD, not eagerly; and localCheckpoint forfeits lineage, so
    # executor loss fails the job instead of recomputing (acceptable on
    # this single-process harness; a churn-prone cluster should use
    # checkpoint() on a reliable dir — see DESIGN.md).
    sym = (edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
                .union(edges.select(F.col(dst_col).alias("src"),
                                    F.col(src_col).alias("dst")))
                .localCheckpoint(eager=False))
    # iterate ONLY over edge-touched nodes: singletons (the vast majority
    # of a deduped corpus at scale) never change label, so they rejoin as
    # self-labeled rows after convergence instead of riding every round's
    # shuffle
    labels = (sym.select(F.col("src").alias("node"))
                 .distinct()
                 .select("node", F.col("node").cast("long").alias("lbl")))
    # localCheckpoint (not just persist) truncates lineage each round:
    # without it the plan grows by one join+agg per iteration and both
    # Catalyst analysis time and the printed plan are O(rounds). The
    # convergence aggregate rides the SAME job as the materialization:
    # an `observe` CollectMetrics node computes sum(lbl) while the eager
    # checkpoint materializes the rows — one job per round where the
    # r14 form paid two (under AQE even a LAZY checkpoint executes the
    # round's shuffle stages at call time, so the separate agg-collect
    # was a pure extra job; fused A/B: 365 -> 201 ms/round). On a
    # cluster with executor churn swap for checkpoint() on a reliable
    # dir — same contract.
    obs = Observation()
    labels = (labels.observe(obs, F.sum("lbl").alias("s"))
                    .localCheckpoint(eager=True))
    prev_sum = obs.get["s"]
    # ONE propagation step per materialized round, deliberately: folding
    # two join+min steps per checkpoint halves job launches but doubles
    # the join work wasted past convergence — measured 5.46s vs 3.6s at
    # sf0.1 (dedup components are clique-ish and converge in 2-3 steps,
    # so the overshoot dominates). Double-stepping only pays on
    # long-diameter graphs, and those take algorithm="star" instead.
    for _ in range(max_iterations):
        msgs = (sym.join(labels, sym["src"] == labels["node"])
                   .select(F.col("dst").alias("node"), F.col("lbl")))
        obs = Observation()
        new_labels = (labels.union(msgs)
                            .groupBy("node").agg(F.min("lbl").alias("lbl"))
                            .observe(obs, F.sum("lbl").alias("s"))
                            .localCheckpoint(eager=True))
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return (nodes.select(F.col(id_col))
                 .join(labels, nodes[id_col] == labels["node"], "left")
                 .select(F.col(id_col),
                         F.coalesce(F.col("lbl"), F.col(id_col).cast("long"))
                          .alias("cluster_id")))


ALL_PAIRS_ROW_LIMIT = 20_000


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             bucket_col: str | None = "label",
                             allow_all_pairs: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking buckets.

    With a bucket column (a cluster/LSH assignment) the comparison is
    confined to same-bucket pairs — the IVF-style scale path. Without one
    this degrades to all-pairs; that path is fenced (r7 verdict #3): a
    cartesian product over more than ``ALL_PAIRS_ROW_LIMIT`` rows raises
    unless the caller passes ``allow_all_pairs=True``, so a missing
    bucket column at 100 TB fails fast instead of launching an O(n²)
    join. The count() spent on the check is one columnar scan of the
    id column — noise next to the crossJoin it guards.
    """
    from ..functions import dot_product, l2_norm
    if bucket_col is None and not allow_all_pairs:
        n = emb.count()
        if n > ALL_PAIRS_ROW_LIMIT:
            raise ValueError(
                f"embedding_near_dup_pairs without bucket_col is all-pairs "
                f"(O(n^2)); input has {n} rows > {ALL_PAIRS_ROW_LIMIT}. "
                f"Pass a bucket_col (kmeans/LSH assignment) or, for a "
                f"deliberate small-input exact run, allow_all_pairs=True.")
    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("v1"),
                   l2_norm(F.col("embedding")).alias("n1"),
                   *( [F.col(bucket_col).alias("bk")] if bucket_col else [] ))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("v2"),
                   l2_norm(F.col("embedding")).alias("n2"),
                   *( [F.col(bucket_col).alias("bk")] if bucket_col else [] ))
    on = (F.col("d1") < F.col("d2"))
    if bucket_col:
        pairs = a.join(b, ["bk"]).filter(on)
    else:
        pairs = a.crossJoin(b).filter(on)
    from ..functions import stable_round as _sr
    sim = dot_product(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    return (pairs.select("d1", "d2", _sr(sim, 4).alias("cos_sim"))
                 .filter(F.col("cos_sim") >= threshold))


def _dup_spans(docs: DataFrame, l: int) -> DataFrame:
    """Shared span finder for the exact-substring family: per document,
    the merged maximal token intervals [s, e) duplicated from an
    earlier (lower-id) document — fixed-L gram hash marking + winner
    table + gaps-and-islands merge (see exact_substring_dedup_stats'
    docstring for the suffix-array equivalence argument)."""
    toks = F.filter(tokens("text"), lambda x: x != "")
    base = docs.select(F.col("doc_id"), toks.alias("ws"))
    g = (base.filter(F.size("ws") >= l)
             .select("doc_id",
                     F.posexplode(word_shingles(F.col("ws"), l))
                      .alias("pos", "gm"))
             .select("doc_id", "pos", md5_hash64(F.col("gm")).alias("h")))
    # winner-marking as a window-min over the gram hash, not
    # groupBy+self-join: the join form consumed g TWICE (no exchange
    # reuse: the aggregate side partial-aggs before its shuffle), so the
    # tokenize+shingle+md5 corpus scan ran twice and the SMJ sorted both
    # shuffled sides anyway. min(id) OVER (PARTITION BY h) marks the
    # same winners with ONE scan and ONE exchange+sort of the narrow
    # (id, pos, h) relation — measured 3.0s -> 1.65s warm at sf0.1 for
    # the span pipeline, identical rows. Hash-skew exposure is the same
    # as the join form's (h was the join key).
    wmin = F.min("doc_id").over(Window.partitionBy("h"))
    dup = (g.withColumn("__w", wmin)
            .filter(F.col("doc_id") > F.col("__w"))
            .select("doc_id", "pos", (F.col("pos") + l).alias("end")))
    wo = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        wo.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(prev_end.isNull()
                        | (F.col("pos") > prev_end), 1).otherwise(0)
    isl = F.sum(new_island).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (dup.withColumn("__i", isl)
               .groupBy("doc_id", "__i")
               .agg(F.min("pos").alias("s"), F.max("end").alias("e")))


def max_dup_spans(docs: DataFrame, l: int = 4, min_len: int = 6) -> DataFrame:
    """Maximal duplicated-span BOUNDARIES with the Lee et al. (ACL'22)
    minimum-length threshold — the suffix-array production form reports
    maximal duplicated runs of at least N tokens (50 in the paper; the
    fixture's shorter documents use a proportionally smaller default)
    and hands their offsets to a byte-level cutter. :func:`_dup_spans`'
    gaps-and-islands merge already reconstructs the maximal runs
    exactly (see exact_substring_dedup_stats' equivalence argument);
    this surface filters them to >= ``min_len`` tokens and emits the
    boundaries themselves: (doc_id, span_start, span_end, span_len),
    end-exclusive token offsets.

    Scale shape: identical to the stats op — gram hashes + integer
    positions shuffle once, text never shuffles, the interval-merge
    window runs only over duplicate positions, and the threshold is a
    post-merge filter (a span shorter than min_len can never extend a
    longer one, so filtering after the merge is exact)."""
    spans = _dup_spans(docs, l)
    return (spans.filter((F.col("e") - F.col("s")) >= min_len)
                 .select(F.col("doc_id"),
                         F.col("s").cast("long").alias("span_start"),
                         F.col("e").cast("long").alias("span_end"),
                         (F.col("e") - F.col("s")).cast("long")
                          .alias("span_len")))


def exact_substring_dedup_apply(docs: DataFrame, l: int = 4) -> DataFrame:
    """The REMOVAL half of Lee et al. ACL'22 exact-substring dedup — the
    step that actually produces the cleaned corpus the stats op only
    describes: every token span duplicated from an earlier document is
    cut (first occurrence kept corpus-wide), and the surviving tokens
    rejoin into the document the LM pipeline feeds its tokenizer.

    Output: (id, n_tokens_kept, clean_text). clean_text is the kept
    TOKEN stream (lower-cased, single-space-joined) — tokenization is
    deliberately lossy here, exactly like the downstream tokenizer's
    view; byte-faithful reconstruction would need original offsets,
    which the whitespace tokenizer does not keep.

    Scale shape: the span finder is the stats op's (gram hashes +
    integer positions shuffle, text never shuffles); spans then fold
    into a per-doc array (few per doc by construction) and the cut is a
    scan-side indexed filter — no new shuffle shapes beyond one equi
    join of (doc, spans)."""
    spans = _dup_spans(docs, l)
    sarr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__spans"))
    toks = F.filter(tokens("text"), lambda x: x != "")
    base = docs.select(F.col("doc_id"), toks.alias("__ws"))
    indexed = F.transform(F.col("__ws"),
                          lambda x, i: F.struct(i.alias("i"), x.alias("t")))
    in_span = lambda p: F.exists(  # noqa: E731
        F.col("__sp"), lambda sp: (p["i"] >= sp["s"]) & (p["i"] < sp["e"]))
    kept = F.filter(indexed, lambda p: ~in_span(p))
    return (base.join(sarr, "doc_id", "left")
                .withColumn("__sp", F.coalesce(
                    F.col("__spans"),
                    F.array().cast("array<struct<s:int,e:int>>")))
                .withColumn("__kept", kept)
                .select(F.col("doc_id"),
                        F.size("__kept").cast("long").alias("n_tokens_kept"),
                        F.array_join(F.transform(
                            "__kept", lambda p: p["t"]), " ")
                         .alias("clean_text")))


def exact_substring_dedup_stats(docs: DataFrame, l: int = 4) -> DataFrame:
    """Exact-substring deduplication stats (Lee et al., ACL'22
    "Deduplicating Training Data Makes Language Models Better",
    cross-document variant): find every token span that also appears in
    an earlier document and report what removal would delete.

    Fixed-L gram marking instead of a suffix array, with the same
    removal set for runs >= L: if a maximal run of M >= L tokens is
    duplicated, all of its M-L+1 L-grams are duplicated, so the merged
    interval cover reconstructs the maximal run [start, start+M)
    exactly — the gaps-and-islands merge below IS the suffix-array
    answer restricted to (a) cross-document matches (within-doc repeats
    are `repetition_stats`' job), (b) runs >= L, (c) first-occurrence
    (lowest doc id) kept. Hash collisions fold spans identically on
    both engines (the shared md5-derived 60-bit hash), so the oracle
    matches even under collision.

    Scale shape: the L-gram fan-out is scan-side; one shuffle of
    (hash, doc_id) pairs builds the winner table; the duplicate join is
    keyed by hash; the interval merge windows only over DUPLICATE
    occurrences (a few % of positions), keyed by doc. Document text
    never shuffles — only 60-bit gram hashes and integer positions.

    Output per document: (doc_id, n_tokens, n_dup_spans,
    tokens_removed, n_tokens_kept).
    """
    spans = _dup_spans(docs, l)
    toks = F.filter(tokens("text"), lambda x: x != "")
    stats = (spans.select("doc_id", (F.col("e") - F.col("s")).alias("__len"))
                  .groupBy("doc_id")
                  .agg(F.count("*").cast("long").alias("n_dup_spans"),
                       F.sum("__len").cast("long").alias("tokens_removed")))
    nt = docs.select(F.col("doc_id"), F.size(toks).cast("long").alias("n_tokens"))
    return (nt.join(stats, "doc_id", "left")
              .select("doc_id", "n_tokens",
                      F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                       .alias("n_dup_spans"),
                      F.coalesce("tokens_removed", F.lit(0)).cast("long")
                       .alias("tokens_removed"),
                      (F.col("n_tokens")
                       - F.coalesce("tokens_removed", F.lit(0)))
                      .cast("long").alias("n_tokens_kept")))


def soft_dedup(docs: DataFrame, num_hashes: int = 8, bands: int = 4,
               jaccard_threshold: float = 0.2) -> DataFrame:
    """Soft deduplication — keep each duplicate-cluster member with
    probability 1/cluster_size instead of hard-keeping exactly one (the
    SlimPajama/RefinedWeb-style soft-dedup policy): hard dedup deletes
    real signal when "duplicates" are merely near (boilerplate templates
    over distinct payloads), while no dedup lets head clusters dominate
    the mixture. Expected survivors per cluster = 1, but WHICH member
    survives is an independent per-document draw, so large clusters
    contribute a diverse sample rather than always their min-id member.

    Determinism: the draw is a portable md5 bucket of the document id
    (`md5("soft|" + id) % 1e6 < 1e6 div cluster_size`) — byte-identical
    re-runs, the resumable-shard property, and exactly the oracle's
    integer arithmetic. Composition: minhash LSH pairs (banded,
    bucket-confined) -> connected components -> one broadcast-joined
    size table -> a scan-side keep expression; nothing beyond the
    already-audited dedup_clusters plan shuffles, so the 100-TB story
    is the pair stage's (linear, LEAKSPLIT_r09.json).

    Output: (doc_id, cluster_id, cluster_size, keep_bucket, kept)."""
    pairs = minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands,
                              jaccard_threshold=jaccard_threshold)
    cc = connected_components(pairs, docs.select("doc_id"))
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size"))
    j = cc.join(F.broadcast(sizes), "cluster_id")
    bucket = md5_hash64(
        F.concat(F.lit("soft|"), F.col("doc_id").cast("string"))) % 1_000_000
    return (j.select(F.col("doc_id"),
                     F.col("cluster_id").cast("long").alias("cluster_id"),
                     "cluster_size")
             .withColumn("keep_bucket", bucket)
             .withColumn("kept",
                         (F.col("keep_bucket")
                          < F.expr("1000000 div cluster_size"))
                         .cast("int")))
