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
- **Point-lookup pruning** — a point lookup needs one bucket directory,
  and finds it without Spark: ``spark_hash`` is a pure-Python port of
  Spark's ``Murmur3_x86_32`` (the hash behind ``F.hash``, seed 42) for
  integer and string keys, so ``bucket_id`` of a key, typed as the stored
  key column, equals the ``__b`` its row was written to; ``read_bucket``
  then reads that one directory with pyarrow and a key filter. Files
  inside each bucket are written sorted by key, so parquet row-group
  stats prune further within the bucket. The Spark form of the same
  lookup filters on ``BUCKET_COL == bucket_expr([k])``, which Catalyst
  folds into a literal PartitionFilter; ``serving.DiskStateStore`` takes
  it for every key or column type the port does not cover.
- **The layout records its key** — ``write_buckets`` writes the bucket key
  columns to ``path/_keys`` (Spark and pyarrow skip ``_`` files), so a
  reader keyed on one column of a composite key knows that its key does
  not pick a bucket and filters every bucket instead.
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
lifetime. ``bucket_of`` computes a bucket with a one-row Spark job: it is
the Spark reference for ``bucket_id``, which the engine calls instead, and
it is kept for tests and for the traced benchmark, which wraps it by name.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__b"
#: buckets per state table (state_bytes / N_BUCKETS should stay a few
#: hundred MB per bucket)
N_BUCKETS = 32
_KEYS_FILE = "_keys"


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


# -- Murmur3_x86_32 as Spark's hash() computes it (unsigned 32-bit words) --

_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    return (_rotl((k1 & _M32) * 0xCC9E2D51 & _M32, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M32
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M32
    return h1 ^ (h1 >> 16)


def _hash_int(v: int, seed: int) -> int:  # Murmur3_x86_32.hashInt
    return _fmix(_mix_h1(seed, _mix_k1(v)), 4)


def _hash_long(v: int, seed: int) -> int:  # Murmur3_x86_32.hashLong
    h1 = _mix_h1(seed, _mix_k1(v))
    return _fmix(_mix_h1(h1, _mix_k1(v >> 32)), 8)


def _hash_str(v: str, seed: int) -> int:  # hashUnsafeBytes of the UTF-8
    data = v.encode("utf-8")
    aligned = len(data) - len(data) % 4
    h1 = seed
    for word in struct.unpack_from(f"<{aligned // 4}I", data):
        h1 = _mix_h1(h1, _mix_k1(word))
    for b in data[aligned:]:  # tail bytes one at a time, as SIGNED bytes
        h1 = _mix_h1(h1, _mix_k1(b - 256 if b > 127 else b))
    return _fmix(h1, len(data))


#: the stored key types the port covers, by their parquet (pyarrow) type
_HASHERS = {pa.int8(): _hash_int, pa.int16(): _hash_int,
                pa.int32(): _hash_int, pa.int64(): _hash_long,
                pa.string(): _hash_str}


def spark_hash(values: Sequence, types: Sequence[pa.DataType]) -> int:
    """``F.hash`` of key values whose columns have the given types (string
    or int8 to int64): seed 42 chained over the values, nulls skipped."""
    h = 42
    for v, t in zip(values, types):
        if v is not None:
            h = _HASHERS[t](v, h)
    return h - (1 << 32) if h >> 31 else h


def bucket_id(values: Sequence, types: Sequence[pa.DataType]) -> int:
    """``bucket_expr`` of key values, in Python: the bucket their row is
    stored in."""
    return spark_hash(values, types) % N_BUCKETS


def write_buckets(df: DataFrame, path: str, keys: Sequence[str]) -> None:
    """Stage a DataFrame that already carries BUCKET_COL for the state dir
    ``path``, hive-partitioned: one shuffle on the bucket id (rows of a
    bucket colocate -> one file per bucket per task), rows sorted by key
    within each file so parquet row-group stats serve point/range lookups.
    The bucket key columns are recorded in ``path/_keys``."""
    (df.repartition(F.col(BUCKET_COL))
       .sortWithinPartitions(*keys)
       .write.mode("overwrite").partitionBy(BUCKET_COL)
       .parquet(_staging(path)))
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _KEYS_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(list(keys), f)
    os.replace(tmp, os.path.join(path, _KEYS_FILE))


def bucket_keys(path: str) -> list[str] | None:
    """The bucket key columns recorded by ``write_buckets``; None for a
    layout written before they were recorded, or for no layout."""
    try:
        with open(os.path.join(path, _KEYS_FILE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


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


def stored_schema(path: str) -> pa.Schema | None:
    """The column schema of the live state, from one bucket file's parquet
    footer (no BUCKET_COL); None when no bucket holds a file."""
    if not os.path.isdir(path):
        return None
    for entry in os.scandir(path):
        if entry.name.startswith(f"{BUCKET_COL}=") and entry.is_dir():
            try:  # a bucket a swap is replacing right now: try the next
                for f in os.scandir(entry.path):
                    if f.name.endswith(".parquet"):
                        return pq.read_schema(f.path)
            except FileNotFoundError:
                continue
    return None


def read_bucket(path: str, bucket: int, key_col: str, key) -> list[Row]:
    """The rows of bucket directory ``bucket`` whose ``key_col`` equals
    ``key``, read with pyarrow, as Rows in file column order. A bucket
    without a directory (all its keys tombstoned) holds no rows."""
    d = os.path.join(path, f"{BUCKET_COL}={bucket}")
    if not os.path.isdir(d):
        return []
    t = pq.read_table(d, filters=[(key_col, "==", key)])
    row = Row(*t.column_names)
    return [row(*vals) for vals in zip(*(c.to_pylist() for c in t.columns))]
