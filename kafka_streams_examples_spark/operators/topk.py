"""Bounded top-K per group.

Reference: TopFiveSongs TreeSet (KafkaMusicExample.java:455-498) and the
top-100 PriorityQueue (TopArticlesLambdaExample.java:198-250) — SURVEY §2.4
A8/A9. The reference maintains the bound incrementally with
adder/subtractor callbacks; in Spark we recompute from the base aggregate
with a rank window, which Catalyst (3.5+) executes with a
WindowGroupLimit: each map task keeps only K candidates per group BEFORE
the shuffle, so the pattern scales to arbitrarily many groups/rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(df: DataFrame,
                    group_cols: Sequence[str],
                    order_by: Sequence[Column],
                    k: int) -> DataFrame:
    """Keep the top-k rows per group under a total order.

    order_by must be a deterministic total order (include a unique
    tie-break column) — the reference's TreeSet comparator does the same
    (plays desc, then song id asc).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (df.withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= k))
