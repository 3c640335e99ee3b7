"""Skew mitigation for hot keys at scale.

AQE's skew-join handles most sort-merge skew automatically (split oversized
partitions); these helpers cover the cases it can't:

- `salted_join`: equi-join where one side is too big to broadcast AND a few
  join keys carry a disproportionate share of rows. The big side gets a
  random salt in [0, salt), the small side is replicated once per salt
  value, and the join key becomes (key, salt) — a hot key's rows spread
  over `salt` reducers instead of one straggler. Cost: small side inflates
  by `salt`×, so keep salt modest (8-32) and the small side actually small.

- `drop_hot_keys`: anti-join filter against the set of keys whose frequency
  exceeds a document-frequency cap. The canonical use is inverted-index
  set-similarity (ngram_jaccard_pairs): a boilerplate shingle shared by
  millions of docs creates a quadratic bucket; dropping shingles with
  df > cap bounds every posting list, which bounds the self-join output by
  n_shingles * cap^2. The hot-key set is tiny by construction (heavy
  hitters), so the anti-join broadcasts.

Both transformations are deterministic given a fixed seed and preserve
results exactly where they promise to (salted_join == plain join; tested).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, keys: Sequence[str],
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Equi-join with the big side's hot keys spread across `salt` buckets.

    Row-identical to big.join(small, keys, how) for "inner" and "left".
    The small side must be a dimension-shaped table (joining replicas must
    not multiply matches — each (key, salt) pair exists exactly once iff
    `keys` are unique in `small`).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (small side is "
                         "replicated; right/outer would duplicate nulls)")
    keys = list(keys)
    big_s = big.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return big_s.join(small_s, keys + ["__salt"], how).drop("__salt")


def key_frequencies(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., df long) — frequency of each key combination."""
    return df.groupBy(*keys).agg(F.count("*").alias("df"))


def drop_hot_keys(df: DataFrame, keys: Sequence[str],
                  max_df: int) -> DataFrame:
    """Remove all rows whose key appears more than max_df times.

    The hot set (keys with df > max_df) is aggregated first and is small by
    construction, so Spark broadcasts the anti-join; the main table is
    filtered in its scan stage without a shuffle of the big side.
    """
    keys = list(keys)
    hot = (key_frequencies(df, keys)
           .filter(F.col("df") > max_df)
           .select(*keys))
    return df.join(F.broadcast(hot), keys, "left_anti")
