"""Event-time windowing, batch mode (SURVEY §2.5).

Streaming variants (with watermarks) live in ``streaming/``. In batch mode
windows are plain bucketing expressions — pure codegen, no state — so a
100 TB scan windows at full scan throughput. All buckets align to the Unix
epoch, matching both Spark's streaming `window()` and the DuckDB oracle's
`time_bucket(..., origin '1970-01-01')`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_session_id(df: DataFrame,
                    keys: Sequence[str],
                    gap_seconds: int,
                    ts_col: str = "ts") -> DataFrame:
    """Assign session ids per key with an inactivity gap (batch sessionization).

    Reference: SessionWindows.ofInactivityGapAndGrace
    (SessionWindowsExample.java:163-171). Sessions that the reference builds
    incrementally (with merge-on-bridge) fall out naturally here: sort by
    time within key, start a new session when the gap is exceeded, and take
    a running sum of the new-session flags. Two window functions over one
    shuffle on the key — the canonical scalable sessionization plan.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col)
    # integer microsecond math: exact, and bit-identical to the DuckDB
    # oracle's epoch_us() — no float-comparison edge cases at gap boundaries
    gap = F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w)
    new_session = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return (df.withColumn("__new", new_session)
              .withColumn("session_id", F.sum("__new").over(
                  w.rowsBetween(Window.unboundedPreceding, 0)))
              .drop("__new"))


def daily_window_start(ts: Column, start_hour: int) -> Column:
    """Custom calendar window: daily bucket starting at a fixed hour.

    Reference: DailyTimeWindows (window/DailyTimeWindows.java:42-63) — a
    daily window starting at 18:00. UTC variant; for a TZ-aware variant
    wrap ts in from_utc_timestamp first (DST days then get 23/25-hour
    windows exactly like the reference documents).
    """
    shifted = ts - F.expr(f"INTERVAL {start_hour} HOURS")
    return F.date_trunc("day", shifted) + F.expr(f"INTERVAL {start_hour} HOURS")
