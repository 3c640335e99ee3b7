"""Join operators (SURVEY §2.3).

All reference joins are key equi-joins (possibly windowed); Spark gives us
sort-merge/broadcast strategies via Catalyst. The one operator Spark lacks
natively — the as-of / join-wait lookup (J8,
CustomStreamTableJoinIntegrationTest.java:60-131) — is implemented below as
a union + last_value window: a single sort per key partition, no UDF, no
per-row lookups, which is the scalable formulation (a broadcastable
"latest value at time t" index does not exist at 100 TB, but a co-sorted
merge does — this is exactly how sort-based as-of joins work in kdb/Flink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame, key: str,
                  lower_seconds: float, upper_seconds: float) -> DataFrame:
    """Stream-stream windowed join: match rows within a time interval.

    Reference: JoinWindows.ofTimeDifference (J3/J4,
    ValidationsAggregatorService.java:122-125, StreamToStreamJoinIntegrationTest.java:96-110).
    Caller must alias columns to avoid collisions; left must expose `l_ts`,
    right `r_ts`. The equi-key keeps this a sort-merge join (the range
    predicate is applied as a post-join filter within each key group), so it
    scales with a single co-partitioned shuffle.
    """
    cond = ((left[key] == right[key])
            & (right["r_ts"] >= left["l_ts"] + F.expr(f"INTERVAL {lower_seconds} SECONDS"))
            & (right["r_ts"] <= left["l_ts"] + F.expr(f"INTERVAL {upper_seconds} SECONDS")))
    return left.join(right, cond)


def asof_join(stream: DataFrame, table: DataFrame, key: str,
              value_cols: list[str],
              ts_col: str = "ts", tiebreak: str = "event_id") -> DataFrame:
    """For each stream row, the most recent table row with table.ts <= stream.ts.

    Batch analog of the reference's custom stream-table join-wait (J8): the
    output is one row per stream record, table side nullable when nothing
    has arrived yet.

    Implementation: tag both inputs, union, sort within key by
    (ts, tiebreak), carry the last non-null table values forward, keep the
    stream rows. One shuffle + one sort — no correlated lookups.
    """
    s_cols = stream.columns
    tagged_s = stream.withColumn("__side", F.lit(1))
    for c in value_cols:
        tagged_s = tagged_s.withColumn(f"__t_{c}", F.lit(None).cast(dict(table.dtypes)[c]))
    tagged_t = table.withColumn("__side", F.lit(0))
    for c in value_cols:
        tagged_t = tagged_t.withColumn(f"__t_{c}", F.col(c))
    common = [key, ts_col, tiebreak, "__side"] + [f"__t_{c}" for c in value_cols]
    extra_s = [c for c in s_cols if c not in common]
    u = tagged_s.select(*common, *extra_s).unionByName(
        tagged_t.select(*common).select(
            *common, *[F.lit(None).cast(dict(stream.dtypes)[c]).alias(c) for c in extra_s]
        )
    )
    w = (Window.partitionBy(key)
         .orderBy(ts_col, tiebreak)
         .rowsBetween(Window.unboundedPreceding, 0))
    for c in value_cols:
        u = u.withColumn(f"asof_{c}", F.last(f"__t_{c}", ignorenulls=True).over(w))
    return (u.filter(F.col("__side") == 1)
             .drop("__side", *[f"__t_{c}" for c in value_cols]))
