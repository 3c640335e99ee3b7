"""Interactive query layer (SURVEY §2.7 Q1-Q5).

The reference serves point/range/window lookups from RocksDB state stores
over REST, with cross-instance discovery (Q6). In a Spark engine the
materialized state IS a table (parquet/Delta sink or an in-memory view), so
the whole read path is Spark SQL — no store-location protocol needed.

StateStore wraps a materialized DataFrame with the store API the
reference's REST layer exposes (WordCountInteractiveQueriesRestService.java:83-172):
get / all / range / windowed fetch / session fetch.

DiskStateStore is the one reader over the bucketed layout (state.py). It
reads the layout again on every call, never at construction, so buckets
swapped in by an upsert after the store was built are read as they are
now, not as they were. Its point lookup runs no Spark job: the key is
hashed in Python and its one bucket directory is read with pyarrow, the
way the reference answers Q1 from a local RocksDB store; scans and the
key types the Python hash does not cover go through Spark SQL.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# write_buckets/swap_buckets/bucket_of: traced perfbench patches them here (ROADMAP 5)
from .state import (  # noqa: F401
    BUCKET_COL, N_BUCKETS, bucket_expr, bucket_id, bucket_keys,
    bucket_of, read_bucket, read_state, stored_schema, swap_buckets,
    write_buckets,
)

#: column types whose pyarrow ``to_pylist`` value is the value Spark's
#: ``collect`` returns (not timestamps, dates, decimals, binary or nested)
_PLAIN_TYPES = {pa.int8(), pa.int16(), pa.int32(), pa.int64(), pa.string(),
                pa.float64(), pa.bool_()}


def _cast_key(key, t: pa.DataType):
    """``key`` as ``try_cast`` to a column of type ``t`` gives it, for the
    forms whose cast is plain: a str to a string column, and to an integer
    column a Python int or an ASCII ``[+-]?[0-9]+`` string, either within
    the type's range. None for any other form."""
    if t == pa.string():
        return key if isinstance(key, str) else None
    if isinstance(key, str) and re.fullmatch(r"[+-]?[0-9]+", key):
        try:
            key = int(key)
        except ValueError:  # past Python's int-from-str digit limit
            return None
    if type(key) is not int or not pa.types.is_signed_integer(t):
        return None
    bound = 1 << (t.bit_width - 1)
    return key if -bound <= key < bound else None


class StateStore:
    """The store API over one DataFrame. Every key and bound is cast to
    its column's type with ``try_cast``, so one that does not cast (``"a"``
    against a bigint key) matches nothing instead of failing the query."""

    def __init__(self, df: DataFrame, key_col: str):
        self.df = df
        self.key_col = key_col

    @staticmethod
    def _cast(df: DataFrame, col: str, value) -> Column:
        """``value`` as a literal of the type of ``df[col]``; null (which
        matches nothing) when it does not cast."""
        return F.lit(value).try_cast(df.schema[col].dataType)

    def _keyed(self, df: DataFrame, key) -> DataFrame:
        return df.filter(F.col(self.key_col) == self._cast(df, self.key_col, key))

    def get(self, key):  # Q1 store.get(key)
        return self._keyed(self.df, key).collect()

    def all(self) -> DataFrame:  # Q2 store.all()
        return self.df

    def range(self, lo, hi) -> DataFrame:  # Q3 store.range(from,to)
        df = self.df
        return df.filter(F.col(self.key_col).between(
            self._cast(df, self.key_col, lo), self._cast(df, self.key_col, hi)))

    def fetch_window(self, key, start, end) -> DataFrame:  # Q4
        return self._windowed(self._keyed(self.df, key), start, end)

    def _windowed(self, df: DataFrame, start, end) -> DataFrame:
        return df.filter(F.col("window_start").between(
            self._cast(df, "window_start", start),
            self._cast(df, "window_start", end)))

    def fetch_sessions(self, key) -> DataFrame:  # Q5 session fetch per key
        return self._keyed(self.df, key)


class DiskStateStore(StateStore):
    """State store over the hash-bucketed parquet layout (state.py).

    The reference's RocksDB store gives O(log n) point lookups; a flat
    parquet table gives O(|state|) scans. This store recovers the lookup
    without planning Spark work: ``get`` reads the key column's type from
    one parquet footer, casts the key to it as ``try_cast`` would, hashes
    it with ``state.bucket_id`` and reads that ONE of ``N_BUCKETS``
    directories with pyarrow, filtering on the key (files are written
    key-sorted, so row-group stats prune within the bucket). A key form or
    a stored column type outside that path, a layout bucketed on more
    columns than ``key_col``, and a path with no state yet take the Spark
    form, ``_pruned``: a filter on ``bucket_expr`` of the cast literal,
    which Catalyst folds into a literal bucket id. A key that does not cast
    to the column's type matches nothing. ``materialize`` writes any
    DataFrame into that layout; KTableMaterializer maintains the same
    layout incrementally.
    """

    def __init__(self, spark: SparkSession, path: str, key_col: str):
        self.spark = spark
        self.path = path
        self.key_col = key_col

    @property
    def df(self) -> DataFrame:  # all() and range() scan this
        return read_state(self.spark, self.path).drop(BUCKET_COL)

    @classmethod
    def materialize(cls, df: DataFrame, path: str,
                    key_col: str) -> "DiskStateStore":
        write_buckets(df.withColumn(BUCKET_COL, bucket_expr([key_col])),
                      path, [key_col])
        swap_buckets(path, range(N_BUCKETS))
        return cls(df.sparkSession, path, key_col)

    def _bucketed_on_key(self) -> bool:
        return bucket_keys(self.path) in (None, [self.key_col])

    def _pruned(self, key) -> DataFrame:
        state = read_state(self.spark, self.path)
        k = self._cast(state, self.key_col, key)
        match = F.col(self.key_col) == k
        if self._bucketed_on_key():
            # folds to a literal bucket id: partition pruning reads one dir
            match = (F.col(BUCKET_COL) == bucket_expr([k])) & match
        return state.filter(match).drop(BUCKET_COL)

    def get(self, key):  # Q1 — one bucket read with pyarrow, no Spark job
        schema = stored_schema(self.path)
        if (schema is None or self.key_col not in schema.names
                or not self._bucketed_on_key()
                or not all(t in _PLAIN_TYPES for t in schema.types)):
            return self._pruned(key).collect()
        t = schema.field(self.key_col).type
        k = _cast_key(key, t)
        if k is None:
            return self._pruned(key).collect()
        return read_bucket(self.path, bucket_id([k], [t]), self.key_col, k)

    def fetch_window(self, key, start, end) -> DataFrame:  # Q4
        return self._windowed(self._pruned(key), start, end)

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
