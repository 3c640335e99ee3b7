"""Streaming source/sink plumbing.

File streams stand in for Kafka topics in tests (TESTDATA parquet replayed
as micro-batches); the Kafka wiring itself is config-only (sources/kafka.py)
since no broker exists in this environment. `run_to_memory` drives a
streaming query synchronously to completion — the TopologyTestDriver
equivalent (SURVEY §5.1).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import TABLES


def stream_table(spark: SparkSession, sf_dir: str, name: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """Replay a testdata table as a file-source stream.

    Schema comes from a batch read of the same file (file streams require
    an explicit schema). events.ts nanos handling mirrors catalog.table.
    """
    if name not in TABLES:
        raise KeyError(name)
    import os

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        # multi-file table (the sf1 scale fixture): the directory itself
        # is the stream basePath; with maxFilesPerTrigger this replays as
        # a genuine multi-batch stream, one batch per file group
        df = reader.parquet(path)
    else:
        # driver testdata tables are single parquet FILES; FileStreamSource
        # needs a directory basePath, so stream the parent dir filtered to
        # this file
        df = (reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Spark 4 may surface parquet timestamps as TIMESTAMP_NTZ (and ignore a
    # runtime nanosAsLong), which withWatermark rejects; normalize like
    # catalog.table — value-exact in the engine's UTC sessions.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def sized_shuffle_partitions(n_rows: int, cpus: int,
                             rows_per_partition: int = 50_000,
                             cost_class: str = "jvm") -> int:
    """Shuffle-partition count scaled to the STREAM'S dominant cost, by
    pipeline cost class.

    ``cost_class="jvm"`` (built-in stateful ops: windowed/session aggs,
    dedup, stream-stream join): every stateful operator commits one state
    store per shuffle partition per micro-batch; at small inputs that
    commit fan-out IS the wall time (SCALE_r06: interval_join at sf0.1
    spent 53.6s of summed commitTimeMs across 2 stores x 32 partitions
    moving only 200k state rows — fixed cost, not join cost). Target
    ~50k state rows per partition, floor 2 (so the plan still exercises
    a real exchange), cap at the session's core count.

    ``cost_class="python"`` (``applyInPandasWithState`` /
    ``transformWithStateInPandas`` pipelines): the shuffle-partition
    count is ALSO the Python-worker parallelism, and per-row Python/
    Arrow work — not state commit — dominates. r7's uniform jvm sizing
    cut fraud_check 78k→25k and ordered_concat 85k→41k rows/s by running
    their pandas folds on 2 workers (BENCH_r07 vs r06; verdict #1).
    Target ~6.25k rows per Python worker, same floor/cap — at sf0.1's
    100k events that is 16 workers, the measured optimum of the r8
    partition sweep (STREAM_AB_r08.json: parts 2/8/12/16/20/32 →
    fraud_check 30k/42k/64k/67-71k/66k/56k rows/s; ordered_concat peaks
    81-85k at 12-16). More partitions past the band re-add commit
    fan-out; fewer starve the pandas fold.

    At 100 TB both classes size the same knob the opposite direction:
    state volume / executor-memory budget (jvm) or corpus / Arrow-batch
    throughput (python), far above the core count — the point is sizing
    to the dominant cost, not defaulting.
    """
    if cost_class == "python":
        rows_per_partition = min(rows_per_partition, 6_250)
    return max(2, min(cpus, (n_rows + rows_per_partition - 1)
                      // rows_per_partition))


class shuffle_sized:
    """Context manager: set spark.sql.shuffle.partitions for one
    streaming query's lifetime (the value is captured at query START and
    baked into its checkpoint), restore on exit."""

    def __init__(self, spark: SparkSession, n_rows: int,
                 rows_per_partition: int = 50_000,
                 cost_class: str = "jvm"):
        self.spark = spark
        self.n_rows = n_rows
        self.rpp = rows_per_partition
        self.cost_class = cost_class

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        cpus = self.spark.sparkContext.defaultParallelism
        self.parts = sized_shuffle_partitions(
            self.n_rows, cpus, self.rpp, self.cost_class)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)
        return False


def run_to_memory(df: DataFrame, mode: str = "append",
                  name: str | None = None, wait: bool = True) -> tuple[str, object]:
    """Start a memory-sink query, process everything available, return
    (table_name, query). Caller stops the query.

    wait=False skips processAllAvailable — required for queries using
    ProcessingTimeTimeout state: Spark schedules continuous empty
    micro-batches to evaluate timeouts, so "all available" never drains.
    Use await_rows to poll those instead.
    """
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.outputMode(mode).format("memory").queryName(name).start())
    if wait:
        q.processAllAvailable()
    return name, q


def await_rows(spark: SparkSession, name: str, predicate,
               timeout: float = 60.0, poll: float = 0.5):
    """Poll memory-sink table `name` until predicate(rows) is truthy or
    timeout; returns the rows. The TopologyTestDriver-style synchronous
    read for timeout-driven queries where processAllAvailable can't
    terminate."""
    import time as _time
    deadline = _time.time() + timeout
    rows = spark.table(name).collect()
    while not predicate(rows):
        if _time.time() > deadline:
            raise TimeoutError(f"await_rows({name}): still unsatisfied after "
                               f"{timeout}s; have {len(rows)} rows")
        _time.sleep(poll)
        rows = spark.table(name).collect()
    return rows

