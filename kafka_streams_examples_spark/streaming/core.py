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


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
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
    if os.path.isdir(path):
        # multi-file table (the sf1 scale fixture): the directory itself
        # is the stream basePath; with no maxFilesPerTrigger every file
        # lands in the first micro-batch, so this replays as ONE batch
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


def run_to_memory(df: DataFrame, mode: str = "append",
                  wait: bool = True) -> tuple[str, object]:
    """Start a memory-sink query, process everything available, return
    (table_name, query). Caller stops the query.

    wait=False skips processAllAvailable — required for queries using
    ProcessingTimeTimeout state: Spark schedules continuous empty
    micro-batches to evaluate timeouts, so "all available" never drains.
    Use await_rows to poll those instead.
    """
    name = f"mem_{uuid.uuid4().hex[:8]}"
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

