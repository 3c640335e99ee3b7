"""Probabilistic counting sketches (Count-Min) as DataFrame aggregates.

The reference README advertises a probabilistic-counting example backed by a
Count-Min Sketch over a song-play stream (/root/reference/README.md:124-127;
the Scala source itself is absent from the checkout). Spark ships HLL++ for
distinct counts (`approx_count_distinct`, exposed as the `approx_distinct`
registry query) but has no frequency sketch, so this module implements CMS
the Spark-first way: the sketch IS a tiny DataFrame of (row, bucket, cnt)
produced by one hash-explode + groupBy, and a point/bulk estimate is an
equi-join against it.

Why this shape survives 100 TB: the explode emits `depth` rows of
(int, int) per input record and map-side partial aggregation collapses them
to at most depth*width rows PER PARTITION before the shuffle — so the
exchange moves O(partitions * depth * width) counters, independent of input
row count. The finished sketch (depth*width rows) broadcasts for free to
any estimator join.

Hashing is the portable md5-affine family shared with the MinHash operators
(operators/dedup.py MINHASH_* constants), so every number here is
reproducible bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_hash64, stable_round
from .dedup import MINHASH_A, MINHASH_B, MINHASH_M, MINHASH_P


def _base_hash(key: Column) -> Column:
    # one md5 per record reduced below 2^30 so every affine permutation
    # stays < 2^62 (DuckDB BIGINT errors on overflow; see dedup.py)
    return md5_hash64(key.cast("string")) % MINHASH_M


def _bucket(base: Column, r: int, width: int) -> Column:
    return ((F.lit(MINHASH_A[r]) * base + F.lit(MINHASH_B[r])) % MINHASH_P) % width


def cms_build(df: DataFrame, key_col: str, depth: int = 4,
              width: int = 256) -> DataFrame:
    """Build a Count-Min sketch: DataFrame of (r, bucket, cnt).

    depth independent hash rows x width buckets. One explode (depth rows of
    two ints per record) + one groupBy whose map-side combine bounds the
    shuffle at depth*width counters per partition regardless of input size.
    """
    if depth > len(MINHASH_A):
        raise ValueError(f"depth > {len(MINHASH_A)} needs more hash constants")
    base = _base_hash(F.col(key_col))
    rows = df.select(
        F.posexplode(F.array(*[_bucket(base, r, width) for r in range(depth)]))
         .alias("r", "bucket"))
    return rows.groupBy("r", "bucket").agg(F.count("*").alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS sketches built with the same (depth, width): counters add.

    Additivity is what makes the sketch streaming- and partition-friendly:
    per-batch (or per-partition, or per-day) sketches fold into the global
    one with a union + groupBy sum over at most depth*width rows each.
    """
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("r", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_streaming_update(state_dir: str, key_col: str, depth: int = 4,
                         width: int = 256):
    """foreachBatch function maintaining a CMS over a stream.

    Reference shape: the README's probabilistic-counting example keeps a
    CMS state store updated per record (/root/reference/README.md:124-127).
    Here each micro-batch builds its own sketch distributed, then folds it
    into the persisted one. Because the sketch is CONSTANT-SIZE
    (depth*width counters) the prior state is collected driver-side and
    rewritten whole — O(1) per batch by construction, which is exactly the
    property that makes sketches the right streaming state at 100 TB
    (contrast with the KTable upsert path, which must bucket because its
    state grows with keys).
    """
    import os

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_sketch = cms_build(batch_df, key_col, depth=depth, width=width)
        if os.path.isdir(state_dir):
            prior = spark.createDataFrame(
                spark.read.parquet(state_dir).collect(),
                "r int, bucket long, cnt long")
            merged = cms_merge(prior, batch_sketch)
        else:
            merged = batch_sketch
        # the read above was materialized into rows, so overwriting the
        # same path never races its own scan
        merged.write.mode("overwrite").parquet(state_dir)

    return fn


def cms_lookup(sketch: DataFrame, keys: DataFrame, key_col: str,
               depth: int = 4, width: int = 256) -> DataFrame:
    """Estimate the frequency of each key in `keys`: (key, est).

    est(k) = min over r of sketch[r][h_r(k)] — the classic CMS read, as a
    broadcast equi-join (the sketch is depth*width rows) + min aggregate.
    Estimates never undercount; collisions only inflate.
    """
    base = _base_hash(F.col(key_col))
    probes = keys.select(
        F.col(key_col),
        F.posexplode(F.array(*[_bucket(base, r, width) for r in range(depth)]))
         .alias("r", "bucket"))
    return (probes.join(F.broadcast(sketch), ["r", "bucket"])
                  .groupBy(key_col)
                  .agg(F.min("cnt").alias("est")))


def quantile_sketch(events: DataFrame, rate: int = 16) -> DataFrame:
    """Bounded-memory quantile estimation via a DETERMINISTIC uniform
    sample — the approximate tier value_percentiles' doc promises for
    100 TB ("swap in an approximation with a documented error budget"),
    built so the budget is measured in-query rather than assumed:

    - sample = rows whose portable 60-bit key hash falls in 1/``rate``
      of the hash space (one scan-side predicate; no sort, no state;
      mergeable across shards by construction since membership is a
      pure row property — the property reservoir sampling lacks);
    - estimates = EXACT interpolated p50/p90 of the sample (the
      value_percentiles engine-parity contract, h=(n-1)p);
    - error gauge = each estimate's realized RANK error against the
      full data, |rank(est)/n - p|, from one conditional aggregate over
      a second scan, compared to the 3/sqrt(m) uniform-sample rank
      bound (within_bound per type — the approx_distinct error-bound
      pattern, so sketch quality is graded inside the hash-checked
      surface, never assumed).

    All arithmetic is engine-exact: the sample is hash-deterministic,
    rank errors are ratios of exact integers quantized to 6dp, and the
    bound uses the correctly-rounded sqrt (the source_mixture
    precedent). At 100 TB: two linear scans (sample + rank check), one
    tiny shuffle on the type handful; choose ``rate`` for the target
    sample size m — the gauge measures whatever is chosen. A type
    whose sample is empty has no estimate row (the inner join drops
    it); at the fixture's per-type volumes (m ~ n/16 >> 1) that never
    happens — lower ``rate`` for small types.
    """
    h = md5_hash64(F.concat(F.col("event_id").cast("string"), F.lit("qsk")))
    s = events.filter(h % rate == 0)
    est = (s.groupBy("event_type")
            .agg(F.count("*").alias("m"),
                 F.percentile("value", F.array(F.lit(0.5), F.lit(0.9)))
                  .alias("__q"))
            .select("event_type", "m",
                    F.get("__q", 0).alias("__p50"),
                    F.get("__q", 1).alias("__p90")))
    joined = events.join(F.broadcast(est), "event_type")
    agg = (joined.groupBy("event_type", "m", "__p50", "__p90")
                 .agg(F.count("*").alias("n"),
                      F.sum(F.when(F.col("value") <= F.col("__p50"), 1)
                             .otherwise(0)).alias("__le50"),
                      F.sum(F.when(F.col("value") <= F.col("__p90"), 1)
                             .otherwise(0)).alias("__le90")))
    err = lambda le, p: stable_round(
        F.abs(F.col(le).cast("double") / F.col("n").cast("double")
              - F.lit(p)), 6)
    bound = stable_round(F.lit(3.0) / F.sqrt(F.col("m").cast("double")), 6)
    out = agg.select(
        "event_type", F.col("n").cast("long").alias("n"),
        F.col("m").cast("long").alias("m"),
        stable_round(F.col("__p50"), 4).alias("p50_est"),
        stable_round(F.col("__p90"), 4).alias("p90_est"),
        err("__le50", 0.5).alias("p50_rank_err"),
        err("__le90", 0.9).alias("p90_rank_err"),
        bound.alias("rank_bound"))
    return out.withColumn(
        "within_bound",
        (F.col("p50_rank_err") <= F.col("rank_bound"))
        & (F.col("p90_rank_err") <= F.col("rank_bound")))
