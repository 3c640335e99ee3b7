"""Hash-bucketed on-disk state layout (SURVEY §2.7 + §4.2 item 1).

One layout shared by the streaming KTable materializer (write path) and the
interactive-query serving layer (read path): state lives under
``path/__b=N/`` hive-style bucket directories, where ``N = pmod(hash(keys),
n_buckets)``.

Why buckets, not a flat table:

- **Partial upsert** — a micro-batch touches only the buckets its keys hash
  into, so the merge reads and rewrites O(batch-reach) state instead of
  O(|state|). At 100 TB of KTable state a full-table rewrite per batch is
  the scale-killer; bucket-local rewrites are the Delta-less equivalent of
  ``MERGE INTO`` (reference changelog compaction:
  interactivequeries/WordCountInteractiveQueriesRestService.java:83-143 is
  the read contract this layout serves).
- **Point-lookup pruning** — ``store.get(key)`` filters on the bucket
  partition column, so Spark's partition pruning reads exactly one bucket
  directory; files inside each bucket are written sorted by key, so parquet
  row-group stats prune further within the bucket.
- **Rename swap, not atomic** — the merged buckets are fully materialized
  into a sibling ``.tmp`` directory first, then swapped in per bucket with
  ``rmtree(dst)`` followed by ``rename(src, dst)`` (metadata ops, no second
  data write). Between the two calls the bucket is missing: a reader that
  lists the layout in that gap misses its files, and a crash there loses
  the bucket. ROADMAP item 2 replaces this with versioned buckets behind
  an atomic manifest.

Bucket count is a fixed layout property (like Kafka topic partition count):
pick it for the target state size (state_bytes / n_buckets ~ a few hundred
MB per bucket) and keep it stable for the table's lifetime.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__b"


def bucket_expr(keys: Sequence[str], n_buckets: int) -> Column:
    """Bucket id for a row: pmod(hash(keys...), n_buckets)."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def bucket_of(spark: SparkSession, key_values: Sequence, n_buckets: int) -> int:
    """Bucket id for literal key values — MUST agree with bucket_expr, so it
    evaluates Spark's own Murmur3 hash on a 1-row plan (constant-folded;
    no data scan) instead of reimplementing the hash in Python."""
    lits = [F.lit(v) for v in key_values]
    return spark.range(1).select(
        F.pmod(F.hash(*lits), F.lit(n_buckets)).alias("b")).first()["b"]


def write_buckets(df: DataFrame, tmp_path: str, keys: Sequence[str]) -> None:
    """Write a DataFrame that already carries BUCKET_COL to a hive-partitioned
    directory: one shuffle on the bucket id (rows of a bucket colocate ->
    one file per bucket per task), rows sorted by key within each file so
    parquet row-group stats serve point/range lookups."""
    (df.repartition(F.col(BUCKET_COL))
       .sortWithinPartitions(*keys)
       .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp_path))


def swap_buckets(tmp_path: str, path: str, buckets: Sequence[int]) -> None:
    """Move the given bucket dirs from tmp into the live state dir.

    Rename-based: the data was materialized once (into tmp); promoting it is
    a metadata operation per bucket. A bucket listed in `buckets` but absent
    from tmp means every key in it was tombstoned — its live dir is removed.
    """
    os.makedirs(path, exist_ok=True)
    for b in buckets:
        src = os.path.join(tmp_path, f"{BUCKET_COL}={b}")
        dst = os.path.join(path, f"{BUCKET_COL}={b}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        if os.path.isdir(src):
            os.rename(src, dst)
    shutil.rmtree(tmp_path, ignore_errors=True)


def has_state(path: str) -> bool:
    """True if the state dir holds at least one bucket directory."""
    if not os.path.isdir(path):
        return False
    return any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(path))


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """Read the live state WITH its bucket partition column (callers that
    don't filter on it should drop it)."""
    return spark.read.parquet(path)
