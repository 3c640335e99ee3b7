"""SparkSession factory — the one owner of shuffle width.

Local mode for tests/bench; every config choice is one that also makes sense
on a real multi-executor cluster at 100 TB scale:

- AQE on (runtime coalescing, skew-join splitting) — at scale the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- Two widths from one session, both set here and nowhere else: no engine
  module, bench or tool resizes them per query.

  - **Streaming: ``spark.sql.shuffle.partitions = 1``.** Streaming queries
    run AQE off, so this width is exactly their number of shuffle
    partitions and of state-store instances per stateful operator: one
    store per operator, as a Kafka Streams app runs one task (and so one
    store) per input-topic partition, and the file-source stand-in for a
    topic has one partition. Every store commits every micro-batch however
    few rows it holds, so at low rates the store count, not the data, sets
    the per-batch cost. On a cluster you would set this to the topic's
    partition count. The plan is the same at any core count. Spark fixes
    the width at query start and records it in the checkpoint's offset
    log, so a restarted query keeps the width it started with (a
    checkpoint written at 4 resumes at 4).
  - **Batch: ``spark.sql.adaptive.coalescePartitions.initialPartitionNum =
    max(cpus, 4)``.** With AQE on, Spark plans every batch exchange at this
    number instead of ``shuffle.partitions`` and coalesces from there;
    Spark 4.1 runs the body of a ``foreachBatch`` sink AQE on too, so the
    KTable upserts plan here. The floor of 4 gives a 1- or 2-core session (e.g. a ``local[1]`` baseline)
    the same batch plan as a 4-core one — the same exchanges — so a
    narrower host changes parallelism, not the plan being measured. On a
    cluster you'd size it to ~2-3x total cores and let AQE coalesce.
- UTC session timezone — event-time semantics must not depend on the
  submitting host (also required for DuckDB-oracle comparison).
- Arrow enabled — every Pandas-UDF boundary is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _with_root(pythonpath: str, root: str) -> str:
    """``pythonpath`` with ``root`` first, unless it is already one of its
    entries. Membership is per entry: ``<root>_old`` or ``<root>/tools``
    on the path does not make ``root`` importable."""
    if root in pythonpath.split(os.pathsep):
        return pythonpath
    return (root + os.pathsep + pythonpath).rstrip(os.pathsep)


def get_spark(app_name: str = "kafka-streams-examples-spark",
              cpus: int | None = None) -> SparkSession:
    # make this package importable by python workers (closures that reference
    # package-level functions pickle by reference); must happen before the
    # JVM launches so forked workers inherit it
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = _with_root(os.environ.get("PYTHONPATH", ""),
                                          repo_root)
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(cpus, 4)))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
