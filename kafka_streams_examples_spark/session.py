"""SparkSession factory — the one owner of shuffle width.

Local mode for tests/bench; every config choice is one that also makes sense
on a real multi-executor cluster at 100 TB scale:

- AQE on (runtime coalescing, skew-join splitting) — at scale the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- ``spark.sql.shuffle.partitions = max(cpus, 4)``, set here and nowhere
  else: no engine module, bench or tool resizes it per query. Batch stages
  start from this width and AQE coalesces them. Streaming queries run AQE
  off, so this width is exactly their number of shuffle partitions and of
  state-store instances per stateful operator; Spark fixes it at query
  start and records it in the checkpoint's offset log, so a restarted
  query keeps the width it started with. The floor of 4 gives a 1- or
  2-core session (e.g. a ``local[1]`` baseline) the same plan as a 4-core
  one — the same exchanges and state stores — so a narrower host changes
  parallelism, not the plan being measured. On a cluster you'd size to
  ~2-3x total cores and let AQE coalesce.
- UTC session timezone — event-time semantics must not depend on the
  submitting host (also required for DuckDB-oracle comparison).
- Arrow enabled — every Pandas-UDF boundary is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kafka-streams-examples-spark",
              cpus: int | None = None) -> SparkSession:
    # make this package importable by python workers (closures that reference
    # package-level functions pickle by reference); must happen before the
    # JVM launches so forked workers inherit it
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
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
