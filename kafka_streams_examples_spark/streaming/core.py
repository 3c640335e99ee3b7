"""Streaming source/sink plumbing.

File streams stand in for Kafka topics in tests (TESTDATA parquet replayed
as micro-batches); the Kafka wiring itself is config-only (sources/kafka.py)
since no broker exists in this environment. `run_to_memory` drives a
streaming query synchronously to completion — the TopologyTestDriver
equivalent (SURVEY §5.1).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..catalog import normalize, read_stored


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Replay a testdata table as a file-source stream.

    File streams require an explicit schema: it comes from the catalog's
    batch scan of the same file, and the catalog's ``normalize`` gives the
    stream the column types ``catalog.table`` gives the batch scan.
    """
    stored = read_stored(spark, sf_dir, name)
    reader = spark.readStream.schema(stored.schema)
    path = f"{sf_dir}/{name}.parquet"
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
    return normalize(df, name, stored.schema)


def run_to_memory(df: DataFrame, mode: str = "append",
                  wait: bool = True) -> tuple[str, object]:
    """Start a memory-sink query, process everything available, return
    (table_name, query). Caller stops the query.

    wait=False skips processAllAvailable and returns at once, for a
    caller that feeds the running query more input and polls the sink
    with await_rows.
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
    read for a query started with ``run_to_memory(..., wait=False)``."""
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

