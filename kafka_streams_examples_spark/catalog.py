"""Testdata catalog: the driver's synthetic tables (TESTDATA.md).

Every loader is a plain ``spark.read.parquet`` — column pruning and filter
pushdown reach the scan because callers express projections declaratively on
the returned DataFrame (verify with ``df.explain``: ``ReadSchema`` /
``PushedFilters``).
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (region and
# nation are bounded by geography; in the reference these are the
# GlobalKTable sides — SURVEY §2.1 S3).
BROADCAST_TABLES = frozenset({"region", "nation"})


def _normalize_ntz(df: DataFrame, schema) -> DataFrame:
    # The driver's vanilla session keeps Spark 4's default
    # spark.sql.parquet.inferTimestampNTZ.enabled=true, so parquet
    # timestamps (written without UTC adjustment) surface as TIMESTAMP_NTZ,
    # which time functions like unix_micros() reject. The engine's contract
    # is instant semantics in a UTC session, so the cast is value-exact.
    # The NTZ column set comes from the (cached) schema object — reading
    # df.dtypes here would be another per-call JVM round trip.
    ntz = [f.name for f in schema.fields
           if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


#: {SparkSession (weak) -> {(sf_dir, name) -> normalized scan DataFrame}}.
#: This memo holds table METADATA — an unresolved parquet scan plan (file
#: index + schema) — never rows, never results, never a `.persist()`.
#: Every action on the returned DataFrame still reads all data from the
#: parquet files; re-running a query re-scans parquet from disk (the
#: bench/oracle no-result-caching contract is untouched).
#:
#: Why (r14 optimization round): each `spark.read.parquet` call pays
#: schema inference + DataSource relation resolution on the driver —
#: measured ~0.15-0.6s PER table() CALL on this box — and the bench
#: constructs every query fresh 2-3 times, several tables each, so
#: catalog construction alone cost 15-30s of a 129s bench pass. A
#: production deployment resolves tables through a metastore/manifest
#: catalog exactly once (guide §6: manifest metadata over per-query
#: listing); this memo is that catalog. Keyed by SESSION OBJECT (r15,
#: was applicationId): DataFrames are bound to the SparkSession that
#: created them, and two sessions can share one SparkContext
#: (newSession / a second getOrCreate), so an appId key would hand
#: session B plans resolved under session A's confs. The WeakKeyDict
#: also dies with the session object — the memo cannot survive a
#: process, and a fresh session always resolves its own first read
#: under its own confs. DataFrames are immutable, so sharing the object
#: across queries (including self-joins) within a session is safe.
#:
#: No invalidation below the session key: the entry holds a frozen file
#: index, so fixture parquet must be IMMUTABLE for the lifetime of the
#: session that read it — rewriting a table in place mid-session would
#: be served stale (fine for benchmark fixtures; a mutating deployment
#: needs a real catalog with snapshot metadata).
_TABLE_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _TABLE_CACHE.get(spark)
    if per_session is None:
        per_session = _TABLE_CACHE[spark] = {}
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Depending on session confs
        # Spark reads it either as int64 nanos (legacy.parquet.nanosAsLong,
        # honored only when set before the first parquet read) or natively
        # as TIMESTAMP_NTZ with nanos truncated to micros. Both paths below
        # end at a plain TIMESTAMP truncated exactly like DuckDB's
        # TIMESTAMP_NS -> TIMESTAMP coercion. The int64 `div` stays in
        # int64 — a double cast would lose precision above 2^53.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        sch = df.schema
        if any(f.name == "ts" and f.dataType.typeName() == "long"
               for f in sch.fields):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        out = _normalize_ntz(df, sch)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        out = _normalize_ntz(df, df.schema)
    per_session[key] = out
    return out

