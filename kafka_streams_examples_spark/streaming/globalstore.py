"""Global store with continuous refresh (SURVEY §2.6 T6, §2.1 S4).

The reference maintains a fully-replicated store via a put-only updater
processor consuming a topic (GlobalStoresExample.java:219-248); every
stream record then looks the store up at its CURRENT state
(:187-210). The Spark-native equivalent: re-resolve the dimension from
its table path at every micro-batch inside foreachBatch and broadcast
join — each batch sees the dimension as of that batch, which is exactly
the updater's continuously-refreshed-lookup contract. A plan-time
stream-static join would pin file listings at query start; the per-batch
re-read is what makes mid-stream dimension updates visible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class GlobalStoreEnricher:
    """foreachBatch sink: enrich each micro-batch against the dimension's
    state AS OF that batch, append results to a parquet sink."""

    def __init__(self, spark: SparkSession, dim_path: str,
                 join_keys: Sequence[str], out_path: str):
        self.spark = spark
        self.dim_path = dim_path
        self.join_keys = list(join_keys)
        self.out_path = out_path

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        # fresh read per batch = the updater's refresh; the dim is
        # broadcast so lookups are map-side, no shuffle of the stream
        dim = self.spark.read.parquet(self.dim_path)
        (batch.join(F.broadcast(dim), self.join_keys, "left")
              .write.mode("append").parquet(self.out_path))
