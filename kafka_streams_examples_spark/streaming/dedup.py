"""Streaming event deduplication (SURVEY §2.6 T2).

Reference: EventDeduplicationLambdaIntegrationTest.java:84-158 — a
transformer with a WindowStore keyed by event id, TTL-purged. Spark ships
this natively: dropDuplicatesWithinWatermark keeps the first occurrence per
key and evicts state once the watermark passes the key's event time + the
watermark delay — the same TTL semantics, with state cleanup handled by the
engine instead of a manual punctuator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_stream(events: DataFrame, keys: Sequence[str], ttl: str = "10 minutes",
                 ts_col: str = "ts") -> DataFrame:
    return (events.withWatermark(ts_col, ttl)
                  .dropDuplicatesWithinWatermark(list(keys)))


def near_dup_index(corpus: DataFrame, num_hashes: int = 8, bands: int = 4,
                   n: int = 3, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Batch half of streaming near-dup: the corpus's DOC-LEVEL profile —
    (corpus_id, c_hs distinct shingle-hash set, c_bands band array,
    c_sz set size), one row per document. r15 (guide §8: decide with
    small rows, attach heavy rows once): the r14 layout pre-exploded to
    one row per (doc, band) with the full c_hs array duplicated onto
    every band row, so the probe join's static side carried ~bands×
    the shingle payload — measured as the dominant per-batch cost of
    stream_near_dup (the payload rode the candidate join; candidates
    are the RARE outcome). The banded (corpus_id, band_id, band_val)
    projection is derived from this profile inside `stream_near_dup`;
    at 100 TB the profile is written ONCE and the narrow banding —
    8 B ids + band values — is what gets partitioned by band_val and
    probed.

    The result is a lazy plan. Materialize it (checkpoint, persist or
    write it to parquet) before probing: `stream_near_dup` reads it in
    two joins per micro-batch, so an inline index reruns the whole corpus
    profile twice per batch."""
    from pyspark.sql import functions as F

    from ..operators.dedup import minhash_doc_profile

    prof = minhash_doc_profile(corpus, num_hashes, bands, n,
                               text_col, id_col)
    return prof.select(
        F.col(id_col).alias("corpus_id"),
        F.col("__hs").alias("c_hs"),
        F.col("__bands").alias("c_bands"),
        F.size("__hs").alias("c_sz"))


def stream_near_dup(new_docs: DataFrame, index: DataFrame,
                    num_hashes: int = 8, bands: int = 4, n: int = 3,
                    threshold: float = 0.2, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Streaming incremental near-dup: arriving documents LSH-probe a
    batch-built corpus index — the streaming half of
    `incremental_minhash_pairs`, and the 100 TB continuous-ingest shape
    (every new document is checked against the corpus BEFORE it is
    admitted).

    Entirely STATELESS: the stream side computes its minhash profile
    with scan-side array folds (`minhash_doc_profile` — no shuffle, no
    state), the candidate step is a stream-static inner equi-join on
    (band_id, band_val) against the NARROW banded projection of the
    index (ids + band values only — no watermark, no state store), and
    the corpus-side shingle set is attached by a second stream-static
    join keyed on corpus_id only for rows that survive banding and the
    first-shared-band dedup (r15, guide §8: the candidate decision
    rides small rows; the heavy c_hs payload moves once, for actual
    candidates). The exact-Jaccard verify is then a per-row
    `array_intersect`. A pair colliding in several bands would emit
    once per band; instead of a stateful dropDuplicates, the row is
    kept only where the matched band is the FIRST band the two docs
    share — a pure expression over both band arrays, so output is
    exactly-once per pair with zero state.

    Output: (new_id, corpus_id, jac) with jac = |∩| / (|a| + |b| − |∩|)
    rounded via the portable formula, filtered at ``threshold`` — the
    same values `incremental_minhash_pairs` produces batch-side
    (equivalence is unit-tested).

    ``index`` must be materialized (checkpoint, persist or parquet) before
    the stream starts: both joins read it every micro-batch, and an
    un-materialized `near_dup_index` plan would rebuild the corpus profile
    twice per batch."""
    from pyspark.sql import functions as F

    from ..functions import stable_round
    from ..operators.dedup import minhash_doc_profile

    prof = (minhash_doc_profile(new_docs, num_hashes, bands, n,
                                text_col, id_col)
            .select(F.col(id_col).alias("new_id"),
                    F.col("__hs").alias("n_hs"),
                    F.col("__bands").alias("n_bands"),
                    F.size("__hs").alias("n_sz"))
            .withColumn("band_id",
                        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
            .withColumn("band_val", F.col("n_bands")[F.col("band_id")]))
    # narrow banded projection: ids + band values (and the small band
    # array for the first-shared-band rule); the heavy c_hs set stays
    # on the one-row-per-doc side until a candidate survives
    narrow = index.select(
        "corpus_id", "c_bands",
        F.posexplode("c_bands").alias("band_id", "band_val"))
    joined = prof.join(narrow, ["band_id", "band_val"])
    # first band the two docs share == this band → emit once per pair:
    # positions where the band arrays agree, keep only the minimum
    match_positions = F.filter(
        F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda i: F.when(F.col("n_bands")[i]
                                     == F.col("c_bands")[i], i)
                               .otherwise(F.lit(-1))),
        lambda x: x >= 0)
    dedup = joined.filter(F.col("band_id")
                          == F.array_min(match_positions))
    verif = dedup.join(index.select("corpus_id", "c_hs", "c_sz"),
                       "corpus_id")
    inter = F.size(F.array_intersect(F.col("n_hs"), F.col("c_hs")))
    jac = stable_round(
        inter / (F.col("n_sz") + F.col("c_sz") - inter).cast("double"), 4)
    return (verif.select("new_id", "corpus_id", jac.alias("jac"))
                 .filter(F.col("jac") >= threshold))
