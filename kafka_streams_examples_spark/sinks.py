"""Materialization sinks.

`write_bucketed` is the co-located-join scale path (DESIGN.md): two fact
tables bucketed by the same key with the same bucket count sort-merge-join
WITHOUT any exchange — the shuffle is paid once at write time and amortized
over every subsequent join/aggregation on that key. This is the Spark
equivalent of Kafka Streams' co-partitioned topics (same partitioner, same
partition count), which is exactly the invariant the reference relies on
for its stream-stream and stream-table joins.

Bucketed tables must go through the session catalog (`saveAsTable`) —
Spark's bucketing metadata lives there, not in the parquet files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, name: str, keys: Sequence[str],
                   buckets: int = 32, path: str | None = None) -> None:
    """Write df as a bucketed (and per-file sorted) catalog table.

    Sorting within buckets lets the sort-merge join skip its sort too —
    the join degenerates to a zip of pre-sorted co-located files.
    """
    keys = list(keys)
    w = df.write.mode("overwrite").bucketBy(buckets, *keys).sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)

