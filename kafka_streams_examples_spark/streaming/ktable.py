"""Streaming KTable materialization (SURVEY §2.1 S2, §4.2 item 1).

A KTable is latest-value-per-key with tombstone deletes. In streaming mode
we materialize it with foreachBatch upserts into a hash-bucketed parquet
state table (state.py layout): per micro-batch, read ONLY the buckets the
batch's keys hash into and rank them together with the raw batch in one
``latest_per_key``, which also drops tombstones (the batch is not reduced
to its latest rows first). The state touched per batch is O(batch-reach),
not O(|state|), so the upsert cost stays flat as the table grows. At
100 TB this is the same shape a Delta/Iceberg ``MERGE INTO`` produces
(rewrite matched files only); here the bucket directories are the
file-group boundary and promotion is a directory rename, not a second data
write.

This class only writes. The state table is read through
``serving.DiskStateStore``, the one reader over the layout (§2.7): point
reads hash the key in Python and read one bucket directory with pyarrow,
then few row groups (files are key-sorted); range/scan reads are plain
Spark SQL. ``write_buckets`` records ``keys`` in the layout, so a point
read on one column of a composite key knows to filter every bucket.
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
                 ts_col: str = "ts", tombstone_col: str | None = None):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.tombstone_col = tombstone_col

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.withColumn(BUCKET_COL, bucket_expr(self.keys))
        touched = [r[0] for r in batch.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        if has_state(self.path):
            # partition pruning: only the touched bucket dirs are read
            batch = (read_state(self.spark, self.path)
                     .filter(F.col(BUCKET_COL).isin(touched))
                     .unionByName(batch))
        # one ranking over state and batch; materialize the merged buckets
        # once (staged), then promote them with directory renames; untouched
        # buckets are never read or written
        write_buckets(latest_per_key(batch, self.keys, self.ts_col,
                                     tombstone_col=self.tombstone_col),
                      self.path, self.keys)
        swap_buckets(self.path, touched)
