"""Synthesize sf1 from the driver's sf0.1 tables (10x replication with
key offsets) so the scale-sensitive queries can be measured on a real
sf0.01 -> 0.1 -> 1 curve without touching the read-only testdata dirs.

Density-preserving construction — the property a linear-scaling test
needs is "10x the volume at the SAME dup/match density per row":

- every key column gets ``replica * STRIDE`` added, consistently across
  fact and dimension (FKs keep joining: replica k's lineitem joins
  replica k's orders/part/supplier, all replicas share nation/region);
- documents: every token of replica k>0 is suffixed ``x{tag}`` with
  ``tag = xxhash64(word, k) mod S`` drawn from a SHARED pool of size
  ``S = ceil(replicas ** (2/3))`` (r12, VERDICT item 4 — the previous
  per-replica ``x{k}`` rename grew the vocabulary LINEARLY in sf,
  which twice made super-10x decade rows a fixture artifact that cost
  a control study to exonerate). The tag depends only on (word, k), so
  the rename is injective per replica and WITHIN a replica every
  pairwise shingle/minhash/simhash similarity is exactly the original;
  ACROSS replicas a 3-shingle survives only when all three words draw
  the same tag in both replicas (prob 1/S^3), so with S ~ R^(2/3) the
  expected cross-replica duplicate partners per unique shingle is
  C(R,2)/S^3 ~ 0.5 — CONSTANT across decades (no manufactured
  near-dup families: doc-pair Jaccard ~ 1/S^3 sits far below every
  LSH threshold; 12-token lines and whole docs collide at 1/S^12 and
  below). Vocabulary therefore grows ~ V * S ~ n^(2/3) — inside the
  Heaps'-law range (beta 0.4-0.7) real web corpora show — so decade
  rows for vocabulary-coupled operators (unigram/bpe encode, bm25,
  nb) measure the PLAN by default;
- embeddings: replica k circularly shifts the vector by k positions — an
  orthogonal transform, so within-replica cosines are bit-preserved and
  a vector vs its shifted copy decorrelates; labels offset per replica so
  label-block sizes stay constant (more blocks, not bigger blocks);
- events: ids/users offset, timestamps unchanged (same time range at 10x
  traffic — windows get denser, the realistic scale-up).

Output: ``.scale/sf1/*.parquet`` under the repo root (gitignored).
``python tools/scale_data.py .scale/sf10 100`` builds the next decade
(r8, verdict task 7): same construction with 100 replicas — the
embedding circular shift repeats every dim=64 replicas, which is fine
(labels still offset per replica, so blocks stay constant-size and a
vector only ever meets its exact-shift twin through the label-blocked
paths, which the offset prevents).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from kafka_streams_examples_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
STRIDE = 10_000_000
REPLICAS = 10

# key columns to offset, per table (nation/region stay shared dims)
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def tag_pool_size(replicas: int) -> int:
    """Shared tag-pool size S = ceil(R^(2/3)): keeps the expected
    cross-replica duplicate partners per unique 3-shingle, C(R,2)/S^3
    ~ R^2 / (2 R^2) = 0.5, CONSTANT across decades while the
    vocabulary grows ~ n^(2/3) (module docstring)."""
    import math
    return max(2, math.ceil(replicas ** (2 / 3)))


def _replica(df: DataFrame, name: str, k: int,
             tag_pool: int = 5) -> DataFrame:
    out = df
    for c in KEYS.get(name, []):
        out = out.withColumn(c, (F.col(c) + F.lit(k * STRIDE)).cast("long"))
    if name == "documents" and k > 0:
        # zipf-bounded token rename: tag = hash(word, k) mod S from the
        # SHARED pool — injective per replica (the stem survives, and
        # original words carry no digits so the suffix parses uniquely),
        # so within-replica similarity structure is exactly the
        # original while the global vocabulary grows ~ V * S, not V * R
        tagged = F.transform(
            F.split(F.col("text"), r"\s+"),
            lambda w: F.when(w == "", w).otherwise(F.concat(
                w, F.lit("x"),
                F.pmod(F.xxhash64(w, F.lit(k)), F.lit(tag_pool))
                 .cast("string"))))
        out = out.withColumn("text", F.array_join(tagged, " "))
    if name == "embeddings":
        if k > 0:
            dim = len(df.select("embedding").first()[0])
            shift = k % dim
            if shift:
                out = out.withColumn(
                    "embedding",
                    F.concat(F.slice("embedding", shift + 1, dim - shift),
                             F.slice("embedding", 1, shift)))
        out = out.withColumn("label",
                             (F.col("label") + F.lit(k * 1000)).cast("int"))
    return out


def main(dest: str = ".scale/sf1", replicas: int = REPLICAS) -> None:
    spark = get_spark("scale-data", cpus=os.cpu_count() or 8)
    os.makedirs(dest, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]:
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        if name == "documents":
            # The tagged rename's injectivity ("the suffix parses
            # uniquely") requires source tokens to carry NO digits —
            # a digit-bearing token could collide with a differently-
            # tagged word and silently perturb the within-replica
            # similarity structure the decade methodology depends on
            # (ADVICE r12). Fail loudly if a future fixture breaks it.
            n_digit = src.filter(F.col("text").rlike("[0-9]")).count()
            if n_digit:
                raise AssertionError(
                    f"{n_digit} source documents contain digit-bearing "
                    "tokens; the replica token rename is no longer "
                    "injective — revisit the tag scheme before scaling")
        if name in ("region", "nation"):
            scaled = src
        else:
            pool = tag_pool_size(replicas)
            scaled = _replica(src, name, 0, pool)
            for k in range(1, replicas):
                scaled = scaled.unionByName(_replica(src, name, k, pool))
        # one flat parquet FILE per table, like the driver's layout
        # (catalog.table reads {dir}/{name}.parquet; a directory works too)
        nparts = 8 if replicas <= 10 else 32
        scaled.repartition(nparts).write.mode("overwrite") \
              .parquet(f"{dest}/{name}.parquet")
        print(f"{name}: {spark.read.parquet(f'{dest}/{name}.parquet').count()} rows")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".scale/sf1",
         int(sys.argv[2]) if len(sys.argv) > 2 else REPLICAS)
