"""Hash-bucketed on-disk state layout (SURVEY §2.7 + §4.2 item 1).

One layout shared by the streaming KTable materializer (write path) and the
interactive-query serving layer (read path): state lives under
``path/__b=N/`` hive-style bucket directories, where ``N = pmod(hash(keys),
N_BUCKETS)``. This module owns every decision about the layout: the bucket
count, the bucket hash and the staging directory. Callers name only the
live path and the key columns.

Why buckets, not a flat table:

- **Partial upsert** — a micro-batch touches only the buckets its keys hash
  into, so the merge reads and rewrites O(batch-reach) state instead of
  O(|state|). At 100 TB of KTable state a full-table rewrite per batch is
  the scale-killer; bucket-local rewrites are the Delta-less equivalent of
  ``MERGE INTO`` (reference changelog compaction:
  interactivequeries/WordCountInteractiveQueriesRestService.java:83-143 is
  the read contract this layout serves).
- **Point-lookup pruning** — ``store.get(key)`` filters on
  ``BUCKET_COL == bucket_expr([k])`` with ``k`` the key as a literal cast
  to the key column's type. Catalyst folds that expression into a literal
  bucket id in the scan's PartitionFilters, so partition pruning reads
  exactly one bucket directory without a Spark job to compute the bucket,
  and the key hashes exactly as the stored column does. Files inside each
  bucket are written sorted by key, so parquet row-group stats prune
  further within the bucket.
- **Rename swap, not atomic** — the merged buckets are fully materialized
  into a sibling ``.tmp`` directory first, then swapped in per bucket with
  ``rmtree(dst)`` followed by ``rename(src, dst)`` (metadata ops, no second
  data write). Between the two calls the bucket is missing: a reader that
  lists the layout in that gap misses its files, and a crash there loses
  the bucket. ROADMAP item 2 replaces this with versioned buckets behind
  an atomic manifest, a change to ``write_buckets`` and ``swap_buckets``
  alone.

The bucket count is the constant ``N_BUCKETS``, not a parameter: like a
Kafka topic's partition count it is a property of the stored data (and of
``fraud_check``'s state key space), so it must not change over a table's
lifetime. ``bucket_of`` computes a bucket with a one-row Spark job; the
engine no longer calls it, and it is kept for tests and for the traced
benchmark, which wraps it by name.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__b"
#: buckets per state table (state_bytes / N_BUCKETS should stay a few
#: hundred MB per bucket)
N_BUCKETS = 32


def _staging(path: str) -> str:
    return path + ".tmp"


def bucket_expr(keys: Sequence[str | Column]) -> Column:
    """Bucket id for a row: pmod(hash(keys...), N_BUCKETS). Keys are column
    names or Columns; a literal Column folds to a constant bucket id."""
    return F.pmod(F.hash(*keys), F.lit(N_BUCKETS))


def bucket_of(spark: SparkSession, key_values: Sequence) -> int:
    """Bucket id for literal key values, hashed as their Python literal
    types, on a one-row Spark job."""
    return spark.range(1).select(
        bucket_expr([F.lit(v) for v in key_values]).alias("b")).first()["b"]


def write_buckets(df: DataFrame, path: str, keys: Sequence[str]) -> None:
    """Stage a DataFrame that already carries BUCKET_COL for the state dir
    ``path``, hive-partitioned: one shuffle on the bucket id (rows of a
    bucket colocate -> one file per bucket per task), rows sorted by key
    within each file so parquet row-group stats serve point/range lookups."""
    (df.repartition(F.col(BUCKET_COL))
       .sortWithinPartitions(*keys)
       .write.mode("overwrite").partitionBy(BUCKET_COL)
       .parquet(_staging(path)))


def swap_buckets(path: str, buckets: Sequence[int]) -> None:
    """Move the given staged bucket dirs into the live state dir ``path``.

    Rename-based: the data was materialized once (staged); promoting it is
    a metadata operation per bucket. A bucket listed in `buckets` but not
    staged means every key in it was tombstoned — its live dir is removed.
    """
    tmp_path = _staging(path)
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
