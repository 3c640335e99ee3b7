"""Streaming KTable materialization (SURVEY §2.1 S2, §4.2 item 1).

A KTable is latest-value-per-key with tombstone deletes. In streaming mode
we materialize it with foreachBatch upserts into a hash-bucketed parquet
state table (state.py layout): per micro-batch, reduce the batch to its
latest row per key, then merge ONLY the buckets the batch's keys hash into
— the state touched per batch is O(batch-reach), not O(|state|), so the
upsert cost stays flat as the table grows. At 100 TB this is the same shape
a Delta/Iceberg ``MERGE INTO`` produces (rewrite matched files only); here
the bucket directories are the file-group boundary and promotion is a
directory rename, not a second data write.

This class only writes. The state table is read through
``serving.DiskStateStore``, the one reader over the layout (§2.7): point
reads prune to one bucket directory (partition pruning) and then to few row
groups (files are key-sorted); range/scan reads are plain Spark SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ktable import latest_per_key
# write_buckets/swap_buckets/bucket_of: traced perfbench patches them here (ROADMAP 5)
from ..state import (  # noqa: F401
    BUCKET_COL, bucket_expr, bucket_of, has_state, read_state, swap_buckets,
    write_buckets,
)


class KTableMaterializer:
    """foreachBatch sink maintaining latest-per-key state in bucketed parquet."""

    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str],
                 ts_col: str = "ts", tiebreak: Sequence[str] = (),
                 tombstone_col: str | None = None, n_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.tiebreak = list(tiebreak)
        self.tombstone_col = tombstone_col
        self.n_buckets = n_buckets

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        # collapse the batch to latest-per-key first: shrinks the merge input
        latest = (latest_per_key(batch, self.keys, self.ts_col, self.tiebreak)
                  .withColumn(BUCKET_COL, bucket_expr(self.keys, self.n_buckets)))
        touched = [r[0] for r in latest.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        if has_state(self.path):
            # partition pruning: only the touched bucket dirs are read
            prev = (read_state(self.spark, self.path)
                    .filter(F.col(BUCKET_COL).isin(touched)))
            merged = latest_per_key(prev.unionByName(latest), self.keys,
                                    self.ts_col, self.tiebreak)
        else:
            merged = latest
        if self.tombstone_col is not None:
            merged = merged.filter(F.col(self.tombstone_col).isNotNull())
        # materialize the merged buckets once (into tmp), then promote them
        # with directory renames; untouched buckets are never read or written
        write_buckets(merged, self.path + ".tmp", self.keys)
        swap_buckets(self.path + ".tmp", self.path, touched)
