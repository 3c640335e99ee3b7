"""Interactive query layer (SURVEY §2.7 Q1-Q5).

The reference serves point/range/window lookups from RocksDB state stores
over REST, with cross-instance discovery (Q6). In a Spark engine the
materialized state IS a table (parquet/Delta sink or an in-memory view), so
the whole read path is Spark SQL — no store-location protocol needed.

StateStore wraps a materialized DataFrame with the store API the
reference's REST layer exposes (WordCountInteractiveQueriesRestService.java:83-172):
get / all / range / windowed fetch / session fetch.

DiskStateStore is the one reader over the bucketed layout (state.py). It
lists the state files again on every call, never at construction, so
buckets swapped in by an upsert after the store was built are read as
they are now, not as they were.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# write_buckets/swap_buckets/bucket_of: traced perfbench patches them here (ROADMAP 5)
from .state import (
    BUCKET_COL, bucket_expr, bucket_of, read_state, swap_buckets, write_buckets,
)


class StateStore:
    def __init__(self, df: DataFrame, key_col: str):
        self.df = df
        self.key_col = key_col

    def get(self, key):  # Q1 store.get(key)
        return self.df.filter(F.col(self.key_col) == key).collect()

    def all(self) -> DataFrame:  # Q2 store.all()
        return self.df

    def range(self, lo, hi) -> DataFrame:  # Q3 store.range(from,to)
        return self.df.filter(F.col(self.key_col).between(lo, hi))

    def fetch_window(self, key, start, end,
                     window_col: str = "window_start") -> DataFrame:  # Q4
        return self.df.filter((F.col(self.key_col) == key)
                              & F.col(window_col).between(start, end))

    def fetch_sessions(self, key) -> DataFrame:  # Q5 session fetch per key
        return self.df.filter(F.col(self.key_col) == key)


class DiskStateStore(StateStore):
    """State store over the hash-bucketed parquet layout (state.py).

    The reference's RocksDB store gives O(log n) point lookups; a flat
    parquet table gives O(|state|) scans. This store recovers the lookup
    asymptotics Spark-natively: ``get`` filters on the bucket partition
    column (partition pruning reads ONE of n_buckets directories) and the
    key column (row-group stats prune within the bucket because files are
    written key-sorted). ``materialize`` writes any DataFrame into that
    layout; KTableMaterializer maintains the same layout incrementally.
    """

    def __init__(self, spark: SparkSession, path: str, key_col: str,
                 n_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets

    @property
    def df(self) -> DataFrame:  # all() and range() scan this
        return read_state(self.spark, self.path).drop(BUCKET_COL)

    @classmethod
    def materialize(cls, df: DataFrame, path: str, key_col: str,
                    n_buckets: int = 32) -> "DiskStateStore":
        bucketed = df.withColumn(BUCKET_COL, bucket_expr([key_col], n_buckets))
        write_buckets(bucketed, path + ".tmp", [key_col])
        swap_buckets(path + ".tmp", path, list(range(n_buckets)))
        return cls(df.sparkSession, path, key_col, n_buckets)

    def _pruned(self, key) -> DataFrame:
        b = bucket_of(self.spark, [key], self.n_buckets)
        return (read_state(self.spark, self.path)
                .filter((F.col(BUCKET_COL) == b) & (F.col(self.key_col) == key))
                .drop(BUCKET_COL))

    def get(self, key):  # Q1 — bucket-pruned point lookup
        return self._pruned(key).collect()

    def fetch_window(self, key, start, end,
                     window_col: str = "window_start") -> DataFrame:  # Q4
        return self._pruned(key).filter(F.col(window_col).between(start, end))

    def fetch_sessions(self, key) -> DataFrame:  # Q5
        return self._pruned(key)


class SearchIndex:
    """Interactive lexical search over a persisted
    ``operators.retrieval.build_bm25_index`` — the retrieval family's
    member of the interactive-query surface (the reference serves
    materialized STATE per key; a curation deployment equally serves
    its corpus INDEX for ad-hoc "what matches this eval prompt"
    checks). A free-text query becomes a 1-row query DataFrame and
    runs the exact candidate/rerank joins ``query_bm25_index`` uses,
    so served results can never drift from the batch contract. The
    ``collect()`` is the sanctioned serving-read-path one (the
    StateStore.get precedent)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def search(self, text: str, k: int = 5):
        from .operators.retrieval import query_bm25_index

        q = self.spark.createDataFrame([(0, text)],
                                       "doc_id long, text string")
        return (query_bm25_index(self.spark, self.path, q, k=k,
                                 exclude_self=False)
                .select("c_id", "score", "rnk")
                .orderBy("rnk").collect())
