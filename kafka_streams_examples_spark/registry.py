"""Query registry: every implemented operator as (spark fn, duckdb oracle).

This is the correctness contract consumed by __spark_entry__.py: for each
entry, the driver runs the Spark callable and the oracle SQL on the same
parquet tables and compares row count + schema + order-insensitive value
hash. Column names and types are aliased identically on both sides; float
aggregates are rounded at the final projection (both sides) so the hashes
are bit-stable; counts/ranks are cast to long to match DuckDB's BIGINT.

Entries whose `oracle` is None are genuinely non-SQL-expressible
(sequential state machines, hash-specific ANN routing) and get the
driver's weaker rows-only check.

SURVEY.md §2 ids are cited per entry (reference file:line in SURVEY).
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import table
from .functions import md5_hash64, tokens
from .operators import bpe as BPE
from .operators import dedup as D
from .operators import joins as J
from .operators import ktable as K
from .operators import retrieval as RET
from .operators import sampling as SAMP
from .operators import similarity as SIM
from .operators import sketch as SKC
from .operators import skew as SK
from .operators import text as TX
from .operators import topk as TK
from .operators import unigram as UNI
from .operators import windows as W

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)

SQL_TOKENS = (
    "SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word "
    "FROM documents"
)
SQL_SHINGLES = r"""
    SELECT DISTINCT doc_id, s AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
         unnest(list_transform(generate_series(1, len(ws) - 2),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS t(s)
    WHERE len(ws) >= 3
"""


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str):
    def deco(fn):
        QUERIES[name] = QuerySpec(spark=fn, oracle=oracle, doc=doc)
        return fn
    return deco


def oracle_patch(base: str, old: str, new: str) -> str:
    """str.replace for derived oracles that FAILS LOUDLY at import time
    if the match target drifted (a silent no-op replace would leave the
    derived query with the base oracle's schema — wrong, and caught only
    at verify time)."""
    if old not in base:
        raise ValueError(
            f"oracle_patch: target not found in base oracle "
            f"(first 80 chars of target: {old[:80]!r})")
    return base.replace(old, new)


# ---------------------------------------------------------------------------
# §2.2 stateless transforms + §2.4 basic aggregations


@query(
    "wordcount",
    f"SELECT word, count(*) AS cnt FROM ({SQL_TOKENS}) WHERE word <> '' GROUP BY word",
    "S1+P6+A1 WordCount: tokenize documents.text, count per word "
    "(WordCountLambdaExample.java:185-208).",
)
def q_wordcount(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return (docs.select(F.explode(tokens("text")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("cnt")))


@query(
    "filter_transform",
    "SELECT event_id, user_id, upper(event_type) AS etype, "
    "floor(value * 1.1 * 100 + 0.5) / 100 AS adj_value "
    "FROM events WHERE event_type = 'purchase' AND value >= 30",
    "P1+P4+P5 filter + map/mapValues (KafkaMusicExample.java:312, "
    "MapFunctionLambdaExample.java:123-139).",
)
def q_filter_transform(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    from .functions import stable_round
    return (ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 30))
              .select("event_id", "user_id",
                      F.upper("event_type").alias("etype"),
                      stable_round(F.col("value") * 1.1, 2).alias("adj_value")))


@query(
    "sum_odd",
    "SELECT round(sum(value), 2) AS sum_value, count(*) AS n FROM events WHERE event_id % 2 = 1",
    "P8+A2 SumLambda: global aggregate of odd-keyed records under a constant "
    "key (SumLambdaExample.java:99-146).",
)
def q_sum_odd(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.filter(F.col("event_id") % 2 == 1)
              .agg(F.round(F.sum("value"), 2).alias("sum_value"),
                   F.count("*").alias("n")))


@query(
    "branch_counts",
    "SELECT CASE WHEN value >= 100 THEN 'high' WHEN value >= 50 THEN 'mid' ELSE 'low' END AS branch, "
    "count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY 1",
    "P9 split/branch: route records into disjoint streams by predicate "
    "(FraudService.java:107-110), summarized per branch.",
)
def q_branch_counts(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    branch = (F.when(F.col("value") >= 100, "high")
               .when(F.col("value") >= 50, "mid").otherwise("low"))
    return (ev.withColumn("branch", branch)
              .groupBy("branch")
              .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")))


@query(
    "merge_union",
    "SELECT event_type, count(*) AS n FROM ("
    "  SELECT event_type FROM events WHERE event_type = 'purchase'"
    "  UNION ALL SELECT event_type FROM events WHERE event_type = 'signup') GROUP BY 1",
    "P10+P11 fan-out + merge: same source consumed by two branches, merged "
    "before one sink (FanoutLambdaIntegrationTest.java:47-82, FraudService.java:112-120).",
)
def q_merge_union(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_type")
    signups = ev.filter(F.col("event_type") == "signup").select("event_type")
    return purchases.unionByName(signups).groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "anonymize_props",
    "SELECT event_id, regexp_replace(props, '\\d+', 'X', 'g') AS masked FROM events",
    "P12 stateless processor: regex anonymizer "
    "(MixAndMatchLambdaIntegrationTest.java:58-91).",
)
def q_anonymize(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.select("event_id", F.regexp_replace("props", r"\d+", "X").alias("masked"))


@query(
    "having_count",
    "SELECT user_id, count(*) AS n FROM events GROUP BY user_id HAVING count(*) >= 50",
    "P2 table filter = HAVING on an aggregate (UserRegionLambdaExample.java:134).",
)
def q_having(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy("user_id").agg(F.count("*").alias("n"))
              .filter(F.col("n") >= 50))


@query(
    "json_extract",
    "SELECT event_id, CAST(regexp_extract(props, '\"k\":\\s*(\\d+)', 1) AS INTEGER) AS k "
    "FROM events WHERE regexp_extract(props, '\"k\":\\s*(\\d+)', 1) <> ''",
    "S9+S11 JSON parse to typed record, dropping corrupt rows "
    "(JsonToAvroExample.java:115-126, HandlingCorruptedInputRecordsIntegrationTest.java:79-99).",
)
def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    parsed = ev.select("event_id", F.from_json("props", "k INT").alias("j"))
    return (parsed.select("event_id", F.col("j.k").alias("k"))
                  .filter(F.col("k").isNotNull()))


# ---------------------------------------------------------------------------
# §2.1 S2 KTable layer + §2.4 A7 re-aggregation + §2.3 joins


@query(
    "ktable_latest",
    "SELECT user_id, event_type AS last_type, value AS last_value, ts AS last_ts FROM events "
    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1",
    "S2 KTable: latest value per key (builder.table, UserRegionLambdaExample.java:125).",
)
def q_ktable_latest(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (K.latest_per_key(ev, ["user_id"], ts_col="ts", tiebreak=["event_id"])
             .select("user_id", F.col("event_type").alias("last_type"),
                     F.col("value").alias("last_value"), F.col("ts").alias("last_ts")))


@query(
    "ktable_reagg",
    "SELECT event_type, count(*) AS n_users FROM ("
    " SELECT user_id, event_type FROM events "
    " QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"
    ") GROUP BY event_type",
    "A7 KTable groupBy().count(): re-aggregation over the changelog — users "
    "counted in their LATEST group only (UserRegionLambdaExample.java:128-132).",
)
def q_ktable_reagg(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    latest = K.latest_per_key(ev, ["user_id"], ts_col="ts", tiebreak=["event_id"])
    return latest.groupBy("event_type").agg(F.count("*").alias("n_users"))


@query(
    "table_table_join",
    "WITH p AS (SELECT user_id, value AS purchase_value FROM events WHERE event_type='purchase' "
    "  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1), "
    "c AS (SELECT user_id, value AS click_value FROM events WHERE event_type='click' "
    "  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1) "
    "SELECT p.user_id, p.purchase_value, c.click_value FROM p JOIN c USING (user_id)",
    "J5 KTable-KTable inner join of two latest-state views "
    "(TableToTableJoinIntegrationTest.java:109-113).",
)
def q_table_table_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    p = (K.latest_per_key(ev.filter(F.col("event_type") == "purchase"),
                          ["user_id"], "ts", ["event_id"])
          .select("user_id", F.col("value").alias("purchase_value")))
    c = (K.latest_per_key(ev.filter(F.col("event_type") == "click"),
                          ["user_id"], "ts", ["event_id"])
          .select("user_id", F.col("value").alias("click_value")))
    return p.join(c, "user_id")


@query(
    "stream_table_join",
    "SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment, count(*) AS n_events, "
    "round(sum(value), 2) AS total_value "
    "FROM events LEFT JOIN customer ON user_id = c_custkey GROUP BY 1",
    "J1 KStream-KTable leftJoin then aggregate per region "
    "(StreamToTableJoinIntegrationTest.java:173-178, PageViewRegionLambdaExample.java:172-179).",
)
def q_stream_table_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    cust = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left")
              .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 2).alias("total_value")))


@query(
    "fk_chain",
    "SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name, n_name",
    "J6+S3 chained KStream-GlobalKTable FK joins (orders→customers→nation→region), "
    "all broadcast (GlobalKTablesExample.java:183-196).",
)
def q_fk_chain(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = table(spark, sf, "region")
    return (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


@query(
    "stream_stream_join",
    "SELECT s.user_id AS user_id, s.event_id AS signup_id, p.event_id AS purchase_id "
    "FROM (SELECT * FROM events WHERE event_type='signup') s "
    "JOIN (SELECT * FROM events WHERE event_type='purchase') p "
    "ON s.user_id = p.user_id AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR",
    "J3 windowed stream-stream inner join "
    "(ValidationsAggregatorService.java:122-125, EmailService.java:100-102).",
)
def q_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    s = (ev.filter(F.col("event_type") == "signup")
           .select(F.col("user_id"), F.col("event_id").alias("signup_id"),
                   F.col("ts").alias("l_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
           .select(F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"),
                   F.col("ts").alias("r_ts")))
    cond = ((s.user_id == p.p_user)
            & (p.r_ts >= s.l_ts)
            & (p.r_ts <= s.l_ts + F.expr("INTERVAL 1 HOUR")))
    return s.join(p, cond).select("user_id", "signup_id", "purchase_id")


@query(
    "stream_stream_outer_join",
    "SELECT coalesce(v.user_id, c.user_id) AS user_id, v.event_id AS view_id, c.event_id AS click_id "
    "FROM (SELECT * FROM events WHERE event_type='view') v "
    "FULL OUTER JOIN (SELECT * FROM events WHERE event_type='click') c "
    "ON v.user_id = c.user_id AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE",
    "J4 windowed stream-stream OUTER join: unmatched sides null-padded "
    "(StreamToStreamJoinIntegrationTest.java:96-110).",
)
def q_stream_stream_outer(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    v = (ev.filter(F.col("event_type") == "view")
           .select(F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
                   F.col("ts").alias("v_ts")))
    c = (ev.filter(F.col("event_type") == "click")
           .select(F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
                   F.col("ts").alias("c_ts")))
    cond = ((v.v_user == c.c_user)
            & (c.c_ts >= v.v_ts)
            & (c.c_ts <= v.v_ts + F.expr("INTERVAL 10 MINUTES")))
    return (v.join(c, cond, "full_outer")
             .select(F.coalesce("v_user", "c_user").alias("user_id"),
                     "view_id", "click_id"))


@query(
    "asof_join",
    "SELECT p.event_id AS event_id, p.user_id AS user_id, "
    "(SELECT s.value FROM events s WHERE s.event_type = 'signup' AND s.user_id = p.user_id "
    " AND (s.ts < p.ts OR (s.ts = p.ts AND s.event_id < p.event_id)) "
    " ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS asof_value "
    "FROM events p WHERE p.event_type = 'purchase'",
    "J8+T5 custom stream-table join-wait: one output per stream record, most "
    "recent table-side value or null (CustomStreamTableJoinIntegrationTest.java:60-131). "
    "Batch analog = sort-based as-of join (union + last_value window), no UDF.",
)
def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    stream = ev.filter(F.col("event_type") == "purchase") \
               .select("event_id", "user_id", "ts")
    tbl = ev.filter(F.col("event_type") == "signup") \
            .select("event_id", "user_id", "ts", "value")
    out = J.asof_join(stream, tbl, key="user_id", value_cols=["value"],
                      ts_col="ts", tiebreak="event_id")
    return out.select("event_id", "user_id", F.col("asof_value"))


# ---------------------------------------------------------------------------
# §2.4 aggregation pack


@query(
    "reduce_concat",
    "SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS type_seq "
    "FROM events GROUP BY user_id",
    "A3 reduce (concatenation) — order-sensitive fold, enforced by event-time "
    "ordering within the group (ReduceTest.java:112-114).",
)
def q_reduce_concat(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    # sort_array on struct(ts, event_id, event_type) gives the event-time
    # order; the concat then happens on the sorted projection — one shuffle.
    return (ev.groupBy("user_id")
              .agg(F.concat_ws(" ", F.transform(
                    F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda x: x["event_type"])).alias("type_seq")))


@query(
    "reduce_keep_first",
    "SELECT user_id, event_type AS first_type, value AS first_value FROM events "
    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1",
    "A4 reduce((a,b)->a): keep-first per key (ValidationsAggregatorService.java:136-137).",
)
def q_keep_first(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .select("user_id", F.col("event_type").alias("first_type"),
                      F.col("value").alias("first_value")))


@query(
    "fold_letters",
    "SELECT substr(word, 1, 1) AS letter, CAST(sum(length(word)) AS BIGINT) AS total_len, "
    f"count(*) AS n_words FROM ({SQL_TOKENS}) WHERE word <> '' GROUP BY 1",
    "A5 aggregate(init, adder): custom fold — sum of word lengths by first "
    "letter (AggregateTest.java:107-118).",
)
def q_fold_letters(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    toks = (docs.select(F.explode(tokens("text")).alias("word"))
                .filter(F.col("word") != ""))
    return (toks.groupBy(F.substring("word", 1, 1).alias("letter"))
                .agg(F.sum(F.length("word")).cast("bigint").alias("total_len"),
                     F.count("*").alias("n_words")))


@query(
    "agg_max",
    "SELECT user_id, max(value) AS max_value FROM events GROUP BY user_id",
    "A6 aggregate rolling MAX per key, materialized "
    "(ValidateStateWithInteractiveQueriesLambdaIntegrationTest.java:96-100).",
)
def q_agg_max(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return ev.groupBy("user_id").agg(F.max("value").alias("max_value"))


@query(
    "anomaly_daily",
    "SELECT user_id, date_trunc('day', ts) AS window_start, count(*) AS n "
    "FROM events GROUP BY 1, 2 HAVING count(*) >= 3",
    "A10+W1 anomaly detection: users with >= 3 events per tumbling window "
    "(AnomalyDetectionLambdaExample.java:131-140).",
)
def q_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy("user_id", F.window("ts", "1 day"))
              .agg(F.count("*").alias("n"))
              .filter(F.col("n") >= 3)
              .select("user_id", F.col("window.start").alias("window_start"), "n"))


# ---------------------------------------------------------------------------
# §2.5 windowing pack


@query(
    "tumbling_hourly",
    "SELECT event_type, date_trunc('hour', ts) AS window_start, count(*) AS n, "
    "round(sum(value), 2) AS total FROM events GROUP BY 1, 2",
    "W1 tumbling windows (TimeWindows.ofSizeWithNoGrace, "
    "TopArticlesLambdaExample.java:192-196).",
)
def q_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy("event_type", F.window("ts", "1 hour"))
              .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
              .select("event_type", F.col("window.start").alias("window_start"), "n", "total"))


@query(
    "hopping_6h",
    "SELECT event_type, "
    "time_bucket(INTERVAL '6 hours', ts, TIMESTAMP '1970-01-01') - (k.k * INTERVAL '6 hours') "
    "AS window_start, count(*) AS n "
    "FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k "
    "GROUP BY 1, 2",
    "W2 hopping windows: 1-day size / 6-hour advance — each event lands in 4 "
    "overlapping windows (PageViewRegionLambdaExample.java:183).",
)
def q_hopping(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy("event_type", F.window("ts", "1 day", "6 hours"))
              .agg(F.count("*").alias("n"))
              .select("event_type", F.col("window.start").alias("window_start"), "n"))


@query(
    "session_windows",
    "WITH flagged AS ("
    " SELECT user_id, ts, value,"
    "  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL"
    "        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s"
    " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)"
    "), sess AS ("
    " SELECT user_id, ts, value, sum(new_s) OVER "
    "  (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) "
    "SELECT user_id, min(ts) AS session_start, count(*) AS n_events, "
    "round(sum(value), 2) AS session_value FROM sess GROUP BY user_id, sid",
    "W3+W4 session windows with 30-min inactivity gap; batch sessionization "
    "via gap-flag + running sum (SessionWindowsExample.java:163-171, "
    "FraudService.java:90-98).",
)
def q_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select("user_id", "ts", "value")
    sess = W.with_session_id(ev, ["user_id"], gap_seconds=1800, ts_col="ts")
    return (sess.groupBy("user_id", "session_id")
                .agg(F.min("ts").alias("session_start"),
                     F.count("*").alias("n_events"),
                     F.round(F.sum("value"), 2).alias("session_value"))
                .drop("session_id"))


@query(
    "daily_1800",
    "SELECT date_trunc('day', ts - INTERVAL 18 HOUR) + INTERVAL 18 HOUR AS window_start, "
    "count(*) AS n, round(sum(value), 2) AS total FROM events GROUP BY 1",
    "W6 custom calendar window: daily bucket starting 18:00 "
    "(window/DailyTimeWindows.java:42-63).",
)
def q_daily_1800(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy(W.daily_window_start(F.col("ts"), 18).alias("window_start"))
              .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")))


@query(
    "windowed_max",
    "SELECT user_id, date_trunc('day', ts) AS window_start, max(value) AS max_value "
    "FROM events GROUP BY 1, 2",
    "W5 windowed MAX with retention "
    "(ValidateStateWithInteractiveQueriesLambdaIntegrationTest.java:103-109).",
)
def q_windowed_max(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy("user_id", F.window("ts", "1 day"))
              .agg(F.max("value").alias("max_value"))
              .select("user_id", F.col("window.start").alias("window_start"), "max_value"))


@query(
    "dedup_ttl",
    "SELECT event_id, user_id, event_type, ts FROM ("
    " SELECT event_id, user_id, event_type, ts,"
    "  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us,"
    "  epoch_us(ts) AS cur_us FROM events) "
    "WHERE prev_us IS NULL OR cur_us - prev_us > 3600000000",
    "T2 event dedup with TTL: drop a record if the same key occurred within "
    "the TTL (EventDeduplicationLambdaIntegrationTest.java:84-158); 1h TTL on "
    "(user_id, event_type).",
)
def q_dedup_ttl(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    out = D.dedup_within_ttl(ev, ["user_id", "event_type"], ttl_seconds=3600,
                             ts_col="ts", tiebreak=["event_id"])
    return out.select("event_id", "user_id", "event_type", "ts")


# ---------------------------------------------------------------------------
# §2.4 A8/A9 top-K + flagship


@query(
    "topk_revenue",
    "SELECT p_brand, p_partkey, revenue, rnk FROM ("
    " SELECT p_brand, p_partkey, revenue,"
    "  row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rnk"
    " FROM (SELECT p_brand, p_partkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    "       FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2)) "
    "WHERE rnk <= 5",
    "A8+A9 bounded top-K per group (top-5 songs per genre, "
    "KafkaMusicExample.java:335-375,455-498) as rank-window over the base "
    "aggregate; WindowGroupLimit prunes to K per group map-side.",
)
def q_topk_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    part = table(spark, sf, "part").select("p_partkey", "p_brand")
    base = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .groupBy("p_brand", "p_partkey")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue")))
    out = TK.top_k_per_group(base, ["p_brand"],
                             [F.col("revenue").desc(), F.col("p_partkey")], k=5)
    return out.select("p_brand", "p_partkey", "revenue", F.col("rnk").cast("bigint").alias("rnk"))


@query(
    "tpch_q1",
    "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(avg(l_quantity), 2) AS avg_qty, round(avg(l_extendedprice), 2) AS avg_price, "
    "count(*) AS count_order FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY l_returnflag, l_linestatus",
    "Flagship pricing-summary query (TPC-H Q1 shape) — the multi-aggregate "
    "groupBy pattern every Kafka Streams count/reduce example reduces to.",
)
def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                   F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("sum_disc_price"),
                   F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
                   F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
                   F.count("*").alias("count_order")))


# ---------------------------------------------------------------------------
# Beyond-reference: training-data pipeline operators (dedup / similarity /
# text analysis). SURVEY §7.1 step 12; graded as first-class components.


@query(
    "exact_dedup",
    "SELECT md5(text) AS text_md5, min(doc_id) AS keeper, count(*) AS n_dupes "
    "FROM documents GROUP BY 1",
    "Exact document dedup via content-hash groupBy; only fixed-width digests "
    "shuffle, never document bodies.",
)
def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup_groups(table(spark, sf, "documents"))


_MINHASH_AGGS_SQL = ", ".join(
    f"min(({a} * h + {b}) % 2147483647) AS mh{i}"
    for i, (a, b) in enumerate(zip(D.MINHASH_A, D.MINHASH_B))
)


@query(
    "minhash_signature",
    f"SELECT doc_id, {_MINHASH_AGGS_SQL} FROM ("
    " SELECT DISTINCT doc_id,"
    "  CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 1073741824 AS h"
    f" FROM ({SQL_SHINGLES})) GROUP BY doc_id",
    "MinHash signatures: one portable md5 per 3-word shingle reduced to "
    "h < 2^30, then 8 affine permutations (A*h+B) %% P — 8x less hashing "
    "than md5-per-permutation, computed as per-row array minima: zero "
    "exchanges, signatures at scan speed.",
)
def q_minhash_signature(spark: SparkSession, sf: str) -> DataFrame:
    return D.minhash_signatures(table(spark, sf, "documents"), num_hashes=8, n=3)


# The full LSH pipeline as named CTEs, shared by the pair query and the
# clustering query (which consumes `verified` as its edge list).
_LSH_CTES = f"""hsh AS (
      SELECT DISTINCT doc_id,
        CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 1073741824 AS h
      FROM ({SQL_SHINGLES})),
    sig AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM hsh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, 0 AS band_id,
             md5(CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR)) AS band_val FROM sig
      UNION ALL SELECT doc_id, 1,
             md5(CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR)) FROM sig
      UNION ALL SELECT doc_id, 2,
             md5(CAST(mh4 AS VARCHAR) || '|' || CAST(mh5 AS VARCHAR)) FROM sig
      UNION ALL SELECT doc_id, 3,
             md5(CAST(mh6 AS VARCHAR) || '|' || CAST(mh7 AS VARCHAR)) FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS sz FROM hsh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    verified AS (
      SELECT i.d1, i.d2,
             floor(i.i / (s1.sz + s2.sz - i.i) * 1e4 + 0.5) / 1e4 AS jac
      FROM inter i
      JOIN cand c ON i.d1 = c.d1 AND i.d2 = c.d2
      JOIN sizes s1 ON i.d1 = s1.doc_id
      JOIN sizes s2 ON i.d2 = s2.doc_id)"""


@query(
    "minhash_lsh_pairs",
    f"WITH {_LSH_CTES}\n    SELECT d1, d2, jac FROM verified WHERE jac >= 0.2",
    "MinHash+LSH near-duplicate pairs: band signatures, equi-join on band "
    "value (candidates only meet inside buckets), exact-Jaccard verify "
    "over the SAME hashed-shingle sets the signatures minimize (one shared "
    "relation -> Spark reuses the exchange; bit-identical in DuckDB even "
    "under 2^30-space hash collisions because both engines hash the same "
    "way).",
)
def q_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return D.minhash_lsh_pairs(table(spark, sf, "documents"),
                               num_hashes=8, bands=4, jaccard_threshold=0.2)


@query(
    "ngram_jaccard",
    f"""WITH sh AS ({SQL_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d1, d2, floor(i / (s1.sz + s2.sz - i) * 1e4 + 0.5) / 1e4 AS jac
    FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE floor(i / (s1.sz + s2.sz - i) * 1e4 + 0.5) / 1e4 >= 0.2""",
    "Exact n-gram Jaccard near-dup pairs via inverted-index self-join "
    "(docs only compared when they share a shingle).",
)
def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return D.ngram_jaccard_pairs(table(spark, sf, "documents"), n=3, threshold=0.2)


@query(
    "ngram_jaccard_capped",
    f"""WITH sh AS ({SQL_SHINGLES}),
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 3),
    kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d1, d2, floor(i / (s1.sz + s2.sz - i) * 1e4 + 0.5) / 1e4 AS jac
    FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE floor(i / (s1.sz + s2.sz - i) * 1e4 + 0.5) / 1e4 >= 0.2""",
    "Hot-shingle-capped Jaccard (operators/skew.py:drop_hot_keys in a "
    "GRADED query): shingles whose document frequency exceeds max_df=3 — "
    "a BINDING cap on this corpus (max df 7) — are dropped before the "
    "inverted-index self-join, bounding every posting list and hence the "
    "join output by n_shingles * max_df^2. The oracle applies the "
    "identical cap, so the hash-match proves the mitigation computes "
    "exactly the declared capped semantics. At 100 TB this is what keeps "
    "boilerplate shingles from creating quadratic buckets.",
)
def q_ngram_jaccard_capped(spark: SparkSession, sf: str) -> DataFrame:
    return D.ngram_jaccard_pairs(table(spark, sf, "documents"), n=3,
                                 threshold=0.2, max_df=3)


def _simhash_sql(bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits))
    fp = " + ".join(f"CASE WHEN s{j} >= 0 THEN {2 ** j} ELSE 0 END" for j in range(bits))
    return f"""WITH w AS ({SQL_TOKENS}),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h
          FROM w WHERE word <> ''),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s"""


@query(
    "simhash",
    _simhash_sql(16),
    "SimHash fingerprints (16-bit, portable md5-derived token hashes): "
    "sign-of-weighted-bit-sums, all JVM-side conditional aggregates.",
)
def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash(table(spark, sf, "documents"), bits=16)


_SIMHASH_PAIRS_SQL = f"""WITH s AS ({_simhash_sql(32)}),
    banded AS (
      SELECT doc_id, simhash, b AS band_id, (simhash >> (b * 8)) & 255 AS band_val
      FROM s, generate_series(0, 3) AS t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.simhash AS h1, b.simhash AS h2
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(h1, h2)) <= 3"""


@query(
    "simhash_hamming_pairs",
    _SIMHASH_PAIRS_SQL,
    "SimHash near-dup PAIRS via bit-band LSH (32-bit fingerprint, 4 bands "
    "of 8 bits): Hamming <= 3 implies at least one identical band "
    "(pigeonhole), so candidates meet in an equi-join on (band_id, "
    "band_val) — never all-pairs — then one codegen'd bit_count(XOR) "
    "verifies exactly. The complement of the `simhash` signature query: "
    "this is the detector that makes the fingerprints actionable.",
)
def q_simhash_hamming_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash_hamming_pairs(table(spark, sf, "documents"),
                                   bits=32, bands=4, max_hamming=3)


@query(
    "dedup_clusters",
    f"""WITH RECURSIVE {_LSH_CTES},
    pairs AS (SELECT d1, d2 FROM verified WHERE jac >= 0.2),
    sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
            UNION ALL SELECT d2, d1 FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node)
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN min(lbl) = node THEN 1 ELSE 0 END AS INT) AS is_canonical
    FROM walk GROUP BY node""",
    "Duplicate-cluster assignment: connected components over the LSH "
    "near-dup pair graph (min-label propagation, O(diameter) rounds of "
    "int64-pair shuffles), cluster id = min doc id in the component, "
    "is_canonical marks the survivor each cluster keeps. The step that "
    "turns pair detection into an actual deduplicated corpus; oracle is "
    "the same fixpoint via a recursive CTE.",
)
def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                jaccard_threshold=0.2)
    cc = D.connected_components(pairs, docs.select("doc_id"))
    return cc.select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id"),
        F.when(F.col("cluster_id") == F.col("doc_id"), 1).otherwise(0)
         .cast("int").alias("is_canonical"))


@query(
    "dedup_keep_best",
    f"""WITH RECURSIVE {_LSH_CTES},
    pairs AS (SELECT d1, d2 FROM verified WHERE jac >= 0.2),
    sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
            UNION ALL SELECT d2, d1 FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node),
    cl AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
           FROM walk GROUP BY node),
    t AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ws
          FROM documents),
    m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
           len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is'))) AS sw,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS nonal,
           length(text) AS chars FROM t),
    qual AS (SELECT doc_id,
      floor((least(n_tokens / 100.0, 1.0) * 0.4 + (CAST(sw AS DOUBLE) / n_tokens) * 0.3
            + (1.0 - CAST(nonal AS DOUBLE) / chars) * 0.3) * 10000 + 0.5) / 10000 AS quality
      FROM m),
    j AS (SELECT c.cluster_id, c.doc_id, q.quality
          FROM cl c JOIN qual q USING (doc_id))
    SELECT cluster_id, doc_id AS keeper_id, quality AS keeper_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM (SELECT cluster_id, doc_id, quality,
            row_number() OVER (PARTITION BY cluster_id
                               ORDER BY quality DESC, doc_id) AS rn,
            count(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM j) WHERE rn = 1""",
    "Near-dup survivorship policy: each duplicate cluster keeps its "
    "HIGHEST-QUALITY member (ties to the lower id), not the lowest id — "
    "the policy production corpus dedup actually wants. One composed "
    "plan: LSH pair graph -> connected-components labels -> quality "
    "scorer join -> per-cluster rank; after the pair stage only "
    "(id, label, quality) triples shuffle, and the rank is "
    "WindowGroupLimit-prunable. Oracle composes the same recursive-CTE "
    "fixpoint with the quality_score arithmetic.",
)
def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                jaccard_threshold=0.2)
    cc = D.connected_components(pairs, docs.select("doc_id"))
    qual = TX.with_quality(docs.select("doc_id", "text")).select("doc_id", "quality")
    j = cc.join(qual, "doc_id").select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "doc_id", "quality")
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality").desc(),
                                                 F.col("doc_id"))
    return (j.withColumn("rn", F.row_number().over(w))
             .withColumn("n_members",
                         F.count("*").over(Window.partitionBy("cluster_id")))
             .filter(F.col("rn") == 1)
             .select("cluster_id", F.col("doc_id").alias("keeper_id"),
                     F.col("quality").alias("keeper_quality"),
                     F.col("n_members").cast("long").alias("n_members")))


_INC_BATCH_PRED = "doc_id % 10 = 7"

# per-side LSH CTEs for the incremental (batch-vs-corpus) dedup: the
# same hash/signature/band arithmetic as _LSH_CTES, split by the batch
# predicate so candidates are strictly batch-bands x corpus-bands
_INC_CTES = f"""nhsh AS (
      SELECT DISTINCT doc_id,
        CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 1073741824 AS h
      FROM ({SQL_SHINGLES}) WHERE {_INC_BATCH_PRED}),
    chsh AS (
      SELECT DISTINCT doc_id,
        CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 1073741824 AS h
      FROM ({SQL_SHINGLES}) WHERE NOT ({_INC_BATCH_PRED})),
    nsig AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM nhsh GROUP BY doc_id),
    csig AS (SELECT doc_id, {_MINHASH_AGGS_SQL} FROM chsh GROUP BY doc_id),
    nband AS (
      SELECT doc_id, 0 AS band_id,
             md5(CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR)) AS band_val FROM nsig
      UNION ALL SELECT doc_id, 1,
             md5(CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR)) FROM nsig
      UNION ALL SELECT doc_id, 2,
             md5(CAST(mh4 AS VARCHAR) || '|' || CAST(mh5 AS VARCHAR)) FROM nsig
      UNION ALL SELECT doc_id, 3,
             md5(CAST(mh6 AS VARCHAR) || '|' || CAST(mh7 AS VARCHAR)) FROM nsig),
    cband AS (
      SELECT doc_id, 0 AS band_id,
             md5(CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR)) AS band_val FROM csig
      UNION ALL SELECT doc_id, 1,
             md5(CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR)) FROM csig
      UNION ALL SELECT doc_id, 2,
             md5(CAST(mh4 AS VARCHAR) || '|' || CAST(mh5 AS VARCHAR)) FROM csig
      UNION ALL SELECT doc_id, 3,
             md5(CAST(mh6 AS VARCHAR) || '|' || CAST(mh7 AS VARCHAR)) FROM csig),
    icand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM nband a JOIN cband b
        ON a.band_id = b.band_id AND a.band_val = b.band_val),
    nsz AS (SELECT doc_id, count(*) AS sz FROM nhsh GROUP BY doc_id),
    csz AS (SELECT doc_id, count(*) AS sz FROM chsh GROUP BY doc_id),
    iint AS (
      SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS i
      FROM nhsh a JOIN chsh b ON a.h = b.h
      GROUP BY 1, 2)"""


@query(
    "incremental_dedup",
    f"""WITH {_INC_CTES}
    SELECT c.new_id, c.corpus_id,
           floor(i.i / (s1.sz + s2.sz - i.i) * 1e4 + 0.5) / 1e4 AS jac
    FROM icand c
    JOIN iint i ON i.new_id = c.new_id AND i.corpus_id = c.corpus_id
    JOIN nsz s1 ON c.new_id = s1.doc_id
    JOIN csz s2 ON c.corpus_id = s2.doc_id
    WHERE floor(i.i / (s1.sz + s2.sz - i.i) * 1e4 + 0.5) / 1e4 >= 0.2""",
    "Incremental dedup — today's batch (doc_id % 10 = 7 stands in for "
    "the new partition) LSH-joined against the EXISTING corpus's band "
    "index, the day-over-day shape 100 TB dedup actually runs in: the "
    "corpus's band signatures are a write-once index (at scale "
    "partitioned by band value on disk), the batch side is tiny and "
    "broadcastable, and corpus x corpus never happens — candidate work "
    "is |batch| x bucket occupancy instead of the full pass's "
    "|corpus| x occupancy. Same md5+affine signature, banding and "
    "exact-Jaccard-verify arithmetic as minhash_lsh_pairs, so one full "
    "pass plus per-increment runs compose into the same pair graph. "
    "Jaccard rounds through the portable floor formula (integer-ratio "
    "values DO land on X.XXXX5 boundaries: 1/32). Oracle replicates the "
    "per-side CTEs and the asymmetric band join.",
)
def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return D.incremental_minhash_pairs(new, corpus, num_hashes=8, bands=4,
                                       jaccard_threshold=0.2)


@query(
    "leakage_split",
    f"""WITH RECURSIVE {_LSH_CTES},
    pairs AS (SELECT d1, d2 FROM verified WHERE jac >= 0.2),
    sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
            UNION ALL SELECT d2, d1 FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node),
    cl AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
           FROM walk GROUP BY node),
    bk AS (SELECT doc_id, cluster_id,
             CAST('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
                                 1, 15) AS BIGINT) % 100 AS split_bucket
           FROM cl)
    SELECT doc_id, cluster_id, split_bucket,
           CASE WHEN split_bucket < 90 THEN 'train'
                WHEN split_bucket < 95 THEN 'validation'
                ELSE 'test' END AS split
    FROM bk""",
    "Leakage-free train/validation/test split — the step between dedup "
    "and training that keeps near-duplicates from straddling split "
    "boundaries (eval contamination): every doc inherits its duplicate "
    "CLUSTER's split, assigned by a portable md5 hash of the cluster id "
    "into 100 buckets (90/5/5). Whole clusters move atomically because "
    "the hash keys on cluster_id, so a doc and its near-dups can never "
    "land in different splits; singletons are their own cluster. "
    "Deterministic (re-runs give byte-identical splits — the property a "
    "100 TB pipeline needs for resumable shard writes), one scan-side "
    "hash on top of the dedup_clusters plan, no extra shuffle. Oracle "
    "composes the recursive-CTE components fixpoint with the identical "
    "bucket arithmetic.",
)
def q_leakage_split(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                jaccard_threshold=0.2)
    cc = D.connected_components(pairs, docs.select("doc_id"))
    bucket = md5_hash64(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))) % 100
    return (cc.select("doc_id",
                      F.col("cluster_id").cast("long").alias("cluster_id"))
              .withColumn("split_bucket", bucket)
              .withColumn("split",
                          F.when(F.col("split_bucket") < 90, "train")
                           .when(F.col("split_bucket") < 95, "validation")
                           .otherwise("test")))


@query(
    "soft_dedup",
    f"""WITH RECURSIVE {_LSH_CTES},
    pairs AS (SELECT d1, d2 FROM verified WHERE jac >= 0.2),
    sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
            UNION ALL SELECT d2, d1 FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node),
    cl AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
           FROM walk GROUP BY node),
    sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM cl GROUP BY cluster_id),
    kb AS (SELECT c.doc_id, c.cluster_id, s.cluster_size,
             CAST('0x' || substr(md5('soft|' || CAST(c.doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) % 1000000 AS keep_bucket
           FROM cl c JOIN sz s USING (cluster_id))
    SELECT doc_id, cluster_id, cluster_size, keep_bucket,
           CAST(CASE WHEN keep_bucket < 1000000 // cluster_size
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM kb""",
    "Soft deduplication (the SlimPajama/RefinedWeb policy): keep each "
    "duplicate-cluster member with probability 1/cluster_size instead "
    "of hard-keeping the min-id representative — expected survivors "
    "per cluster = 1, but WHICH member survives is an independent "
    "deterministic per-document draw (portable md5 bucket % 1e6 vs "
    "1e6 div size), so big boilerplate clusters contribute a diverse "
    "sample rather than always their first member, and re-runs are "
    "byte-identical (resumable shards). Composition: the audited "
    "minhash-LSH pair stage -> connected components -> one broadcast "
    "size join -> a scan-side keep expression; nothing new shuffles. "
    "Oracle composes the recursive-CTE components with the identical "
    "integer bucket arithmetic.",
)
def q_soft_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return D.soft_dedup(table(spark, sf, "documents"), num_hashes=8,
                        bands=4, jaccard_threshold=0.2)


@query(
    "knn_hard_negatives",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    parts AS (SELECT label AS centroid_id, dim, v[dim] AS x
              FROM e, unnest(generate_series(1, len(v))) AS t(dim)),
    cents AS (SELECT centroid_id, list(m ORDER BY dim) AS centroid
              FROM (SELECT centroid_id, dim, avg(x) AS m FROM parts GROUP BY 1, 2)
              GROUP BY centroid_id),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv FROM e WHERE vec_id < 20),
    routed AS (
      SELECT q_id, centroid_id FROM (
        SELECT q.q_id, c.centroid_id,
          row_number() OVER (PARTITION BY q.q_id
            ORDER BY floor(list_cosine_similarity(q.qv, c.centroid) * 1e6 + 0.5) / 1e6 DESC,
                     c.centroid_id) AS r
        FROM q CROSS JOIN cents c WHERE c.centroid_id <> q.q_label) WHERE r <= 2),
    cand AS (
      SELECT q.q_id, c.vec_id AS c_id, CAST(c.label AS BIGINT) AS neg_label,
             floor(list_cosine_similarity(q.qv, c.v) * 1e6 + 0.5) / 1e6 AS s6
      FROM routed r JOIN q ON q.q_id = r.q_id
      JOIN e c ON c.label = r.centroid_id)
    SELECT q_id, c_id, neg_label, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, neg_label, s6,
        row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM cand) t WHERE rnk <= 5""",
    "Hard-negative mining for embedding-model training (the ANN-mined "
    "negatives step of DPR-style contrastive pipelines, Karpukhin "
    "EMNLP'20 \u00a74.2): per query, the top-5 most-similar vectors with a "
    "DIFFERENT label — confusable but labeled apart, which is what the "
    "contrastive loss needs. Scale shape = ivf_knn with the query's own "
    "cell EXCLUDED from the route (label mismatch holds by construction, "
    "so no candidate is discarded after the join): nprobe=2 nearest "
    "foreign label-centroids, exact cosine rerank only inside those "
    "blocks; at 100 TB the corpus partitions by label once and each "
    "mining batch prunes all other blocks on disk. neg_label rides "
    "along for per-source negative stratification. Oracle recomputes "
    "centroids, the excluded route, and the rerank with identical "
    "rounding.",
)
def q_knn_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return SIM.hard_negatives(emb.filter(F.col("vec_id") < 20), emb,
                              k=5, nprobe=2)


@query(
    "knn_graph",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cand AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             floor(list_cosine_similarity(a.v, b.v) * 1e6 + 0.5) / 1e6 AS s6
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
    SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, s6,
        row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM cand) t WHERE rnk <= 3""",
    "Block-confined kNN GRAPH over the whole corpus — every vector's "
    "top-3 cosine neighbors within its label block: the input shape of "
    "graph-based curation (SemDeDup cluster pruning, kNN-graph "
    "clustering, link-based quality propagation) where every vector is "
    "a query. Unlike the probe-set tiers nothing broadcasts — both "
    "sides are corpus-sized, so the plan is a plain label equi-join of "
    "the corpus with itself (quadratic per BLOCK, never corpus-wide), "
    "and at 100 TB the corpus buckets by label once so the self-join "
    "co-locates shuffle-free with block size controlled by the "
    "quantizer's k. Rank filter compiles to WindowGroupLimit. Oracle: "
    "the identical blocked self-join + rounded rerank.",
)
def q_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.knn_graph(table(spark, sf, "embeddings"), k=3)


@query(
    "semantic_prune",
    """WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                            FROM embeddings),
    cand AS (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             floor(list_cosine_similarity(a.v, b.v) * 1e6 + 0.5) / 1e6 AS s6
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
    g AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id, s6,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY s6 DESC, c_id) AS rnk
        FROM cand) t
      WHERE rnk <= 3 AND floor(s6 * 1e4 + 0.5) / 1e4 >= 0.35),
    sym AS (SELECT q_id AS src, c_id AS dst FROM g
            UNION SELECT c_id, q_id FROM g),
    walk(node, lbl) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node),
    cl AS (SELECT node AS vec_id, CAST(min(lbl) AS BIGINT) AS cluster_id
           FROM walk GROUP BY node),
    parts AS (SELECT label AS centroid_id, dim, v[dim] AS x
              FROM e, unnest(generate_series(1, len(v))) AS t(dim)),
    cents AS (SELECT centroid_id, list(m ORDER BY dim) AS centroid
              FROM (SELECT centroid_id, dim, avg(x) AS m FROM parts
                    GROUP BY 1, 2)
              GROUP BY centroid_id),
    cs AS (SELECT e.vec_id,
             floor(list_cosine_similarity(e.v, c.centroid) * 1e6 + 0.5) / 1e6
               AS c6
           FROM e JOIN cents c ON c.centroid_id = e.label),
    j AS (SELECT cl.vec_id, cl.cluster_id, cs.c6 FROM cl JOIN cs USING (vec_id))
    SELECT vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS n_members,
           floor(c6 * 1e4 + 0.5) / 1e4 AS cent_sim,
           CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY c6, vec_id) = 1
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM j""",
    "SemDeDup-style graph pruning (Abbas et al. 2023) — the curation "
    "step that CONSUMES knn_graph: edges above the similarity "
    "threshold define semantic-duplicate components, and each "
    "component keeps its member LEAST similar to the block centroid "
    "(the most peripheral = most informative example; ties to lower "
    "id). One row per vector with (cluster_id, n_members, cent_sim, "
    "kept) — the keep/drop manifest a corpus build applies as a "
    "semi-join. Composes three audited plans: the block-confined "
    "knn_graph self-join, the CC loop over the sparse "
    "above-threshold edge list, and a label-means equi-join "
    "(label-count rows). eps=0.35 is fixture-calibrated (synthetic "
    "blocks top out near cos 0.47); production embeddings use "
    "~0.95+ — identical plan at any eps. Oracle: the same edges, a "
    "recursive-CTE fixpoint, and identically rounded centroid "
    "cosines.",
)
def q_semantic_prune(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.semantic_prune(table(spark, sf, "embeddings"), k=3, eps=0.35)


@query(
    "label_silhouette",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                  FROM embeddings),
    parts AS (SELECT label AS centroid_id, dim, v[dim] AS x
              FROM e, unnest(generate_series(1, len(v))) AS t(dim)),
    cents AS (SELECT centroid_id, list(m ORDER BY dim) AS centroid
              FROM (SELECT centroid_id, dim, avg(x) AS m FROM parts
                    GROUP BY 1, 2)
              GROUP BY centroid_id),
    sc AS (SELECT e.vec_id, e.label, c.centroid_id,
             floor(list_cosine_similarity(e.v, c.centroid) * 1e6 + 0.5) / 1e6
               AS s6
           FROM e CROSS JOIN cents c),
    own AS (SELECT vec_id, label, s6 AS own6 FROM sc
            WHERE centroid_id = label),
    fr AS (SELECT vec_id, max(s6) AS best6 FROM sc
           WHERE centroid_id <> label GROUP BY vec_id),
    fl AS (SELECT s.vec_id, min(s.centroid_id) AS foreign_label
           FROM sc s JOIN fr ON fr.vec_id = s.vec_id AND s.s6 = fr.best6
            AND s.centroid_id <> s.label
           GROUP BY s.vec_id)
    SELECT o.vec_id, CAST(o.label AS BIGINT) AS label,
           floor(o.own6 * 1e4 + 0.5) / 1e4 AS own_sim,
           floor(f.best6 * 1e4 + 0.5) / 1e4 AS foreign_sim,
           CAST(fl.foreign_label AS BIGINT) AS foreign_label,
           floor(o.own6 * 1e4 + 0.5) / 1e4
             - floor(f.best6 * 1e4 + 0.5) / 1e4 AS margin,
           CAST(CASE WHEN o.own6 < f.best6 THEN 1 ELSE 0 END AS INT)
             AS suspect
    FROM own o JOIN fr f USING (vec_id) JOIN fl USING (vec_id)""",
    "Per-vector label-noise score (cleanlab-style centroid silhouette — "
    "the label-QC pass a curation pipeline runs before trusting labels "
    "for hard-negative mining or stratified sampling): cosine to the "
    "OWN label centroid vs the best FOREIGN centroid, margin < 0 flags "
    "a relabel/review candidate with the better-fitting label attached. "
    "ZERO corpus shuffles: the k-row centroid table folds into a 1-row "
    "broadcast array (the kmeans_train broadcast size) and every row "
    "scores all k centroids scan-side; per-centroid cosines quantize at "
    "6 decimals BEFORE max/argmax so tie-breaks (score desc, label asc) "
    "are engine-exact, and margin is the difference of two identically "
    "quantized 4dp values (bit-identical without a negative-unsafe "
    "round). Oracle: the same centroids, quantized scores, and "
    "argmax-with-min-label tie-break, relationally.",
)
def q_label_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.label_silhouette(table(spark, sf, "embeddings"))


@query(
    "vocab_stats",
    r"""WITH tk AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(lower(text), '\s+')) AS word
      FROM documents)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT word) AS BIGINT) AS n_types,
           floor(count(DISTINCT word) / count(*) * 1e6 + 0.5) / 1e6
             AS type_token_ratio,
           floor(count(*) / count(DISTINCT doc_id) * 1e4 + 0.5) / 1e4
             AS tokens_per_doc
    FROM tk WHERE word <> '' GROUP BY source""",
    "Per-source vocabulary statistics — the Heaps-law corpus diagnostic "
    "a mixture designer reads before weighting sources: document count, "
    "token count, TYPE count (distinct vocabulary), type-token ratio "
    "(low TTR flags templated/boilerplate sources; high flags noisy "
    "ones), and mean tokens/doc. One tokenize pass shared with the "
    "wordcount family, two shuffles (source+word distinct, then the "
    "per-source rollup — count(DISTINCT) expands to the same two-phase "
    "plan on both engines); at 100 TB this is the cheapest whole-corpus "
    "profile that still needs real distributed distinct machinery. "
    "Ratios floor-rounded portably on both sides.",
)
def q_vocab_stats(spark: SparkSession, sf: str) -> DataFrame:
    from .functions import stable_round
    tk = (table(spark, sf, "documents")
          .select("doc_id", "source", F.explode(tokens("text")).alias("word"))
          .filter(F.col("word") != ""))
    return (tk.groupBy("source")
              .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"),
                   F.count("*").cast("long").alias("n_tokens"),
                   F.count_distinct("word").cast("long").alias("n_types"))
              .select("source", "n_docs", "n_tokens", "n_types",
                      stable_round(F.col("n_types")
                                   / F.col("n_tokens").cast("double"), 6)
                       .alias("type_token_ratio"),
                      stable_round(F.col("n_tokens")
                                   / F.col("n_docs").cast("double"), 4)
                       .alias("tokens_per_doc")))


_NGRAM_TRUTH_CTE = f"""sh0 AS ({SQL_SHINGLES}),
    tsz AS (SELECT doc_id, count(*) AS sz FROM sh0 GROUP BY doc_id),
    tint AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      FROM sh0 a JOIN sh0 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT d1, d2 FROM tint
      JOIN tsz s1 ON d1 = s1.doc_id JOIN tsz s2 ON d2 = s2.doc_id
      WHERE floor(i / (s1.sz + s2.sz - i) * 1e4 + 0.5) / 1e4 >= 0.2)"""


@query(
    "dedup_recall",
    f"""WITH {_LSH_CTES},
    {_NGRAM_TRUTH_CTE},
    mh AS (SELECT d1, d2 FROM verified WHERE jac >= 0.2),
    sim AS (SELECT d1, d2 FROM (
      {_SIMHASH_PAIRS_SQL}
    )),
    det AS (
      SELECT 'exact' AS detector, d1, d2 FROM truth
      UNION ALL SELECT 'minhash_lsh', d1, d2 FROM mh
      UNION ALL SELECT 'simhash', d1, d2 FROM sim),
    nt AS (SELECT count(*) AS n FROM truth)
    SELECT det.detector,
           CAST(nt.n AS BIGINT) AS n_truth,
           CAST(count(*) AS BIGINT) AS n_detected,
           CAST(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           CASE WHEN nt.n = 0 THEN 0.0 ELSE
             floor(sum(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END)
                   / nt.n * 1e4 + 0.5) / 1e4 END AS recall
    FROM det
    LEFT JOIN truth t ON det.d1 = t.d1 AND det.d2 = t.d2
    CROSS JOIN nt
    GROUP BY det.detector, nt.n""",
    "Detection-quality gauge for the dedup family — the `knn_recall` "
    "analog: exact n-gram-Jaccard pairs (threshold 0.2) are the ground "
    "truth, and each probabilistic detector is graded by the fraction "
    "of true pairs it surfaces. 'exact' is the built-in control "
    "(recall 1.0); 'minhash_lsh' measures pure BANDING loss (same "
    "Jaccard metric, so every miss is a pair whose signature agreed in "
    "no band — the b·r trade made measurable); 'simhash' is the "
    "cross-metric detector (Hamming<=3 on 32-bit fingerprints), whose "
    "recall against a Jaccard truth quantifies how much the cheaper "
    "fingerprint misses. n_detected alongside n_hits exposes precision "
    "loss too (detected-but-not-true pairs). One composed plan: truth "
    "checkpointed once, detectors union with a label, hits are an "
    "equi-join. Oracle reuses the three detectors' CTEs verbatim.",
)
def q_dedup_recall(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    # ONE corpus scan + tokenize shared by all three detectors (r15):
    # each detector's pipeline starts from the same token arrays, so the
    # materialized (doc_id, tokens) relation replaces three separate
    # text scans/parses — at 100 TB, two corpus passes saved outright.
    # Token arrays are identical to what each detector computed itself,
    # so every downstream hash/signature/fingerprint is bit-identical
    # (pinned by test_dedup_recall_shared_tokens_parity).
    toksed = (docs.select("doc_id", tokens("text").alias("__toks"))
                  .localCheckpoint(eager=False))
    truth = (D.ngram_jaccard_pairs(toksed, n=3, threshold=0.2,
                                   toks_col="__toks")
              .select("d1", "d2").localCheckpoint(eager=False))
    detectors = [
        ("exact", truth),
        ("minhash_lsh", D.minhash_lsh_pairs(
            toksed, num_hashes=8, bands=4,
            jaccard_threshold=0.2, toks_col="__toks").select("d1", "d2")),
        ("simhash", D.simhash_hamming_pairs(
            toksed, bits=32, bands=4, max_hamming=3,
            toks_col="__toks").select("d1", "d2")),
    ]
    det = None
    for name, df in detectors:
        lab = df.select(F.lit(name).alias("detector"), "d1", "d2")
        det = lab if det is None else det.unionByName(lab)
    nt = truth.count()
    from .functions import stable_round
    hits = det.join(truth.withColumn("__t", F.lit(1)), ["d1", "d2"], "left")
    # nt is a plan-time scalar; on a corpus with NO true pairs the
    # division would raise under Spark 4's ANSI mode — recall is 0 by
    # definition there (nothing to find)
    recall = (F.lit(0.0) if nt == 0 else
              stable_round(F.col("n_hits") / F.lit(nt).cast("double"), 4))
    return (hits.groupBy("detector")
                .agg(F.count("*").cast("long").alias("n_detected"),
                     F.sum(F.coalesce(F.col("__t"), F.lit(0)))
                      .cast("long").alias("n_hits"))
                .select("detector",
                        F.lit(nt).cast("long").alias("n_truth"),
                        "n_detected", "n_hits",
                        recall.alias("recall")))


_CMS_PERMS_SQL = ", ".join(
    f"({r}, {a}, {b})"
    for r, (a, b) in enumerate(zip(D.MINHASH_A[:4], D.MINHASH_B[:4]))
)


@query(
    "cms_estimate",
    f"""WITH hb AS (
      SELECT user_id,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1073741824 AS h
      FROM events),
    perms(r, a, bb) AS (VALUES {_CMS_PERMS_SQL}),
    buck AS (
      SELECT user_id, r, ((a * h + bb) % 2147483647) % 64 AS bucket
      FROM hb CROSS JOIN perms),
    sketch AS (SELECT r, bucket, count(*) AS cnt FROM buck GROUP BY 1, 2),
    probes AS (SELECT DISTINCT user_id, r, bucket FROM buck),
    est AS (
      SELECT p.user_id, min(s.cnt) AS est
      FROM probes p JOIN sketch s USING (r, bucket) GROUP BY 1),
    exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1)
    SELECT e.user_id, e.est, x.exact_cnt, e.est - x.exact_cnt AS overcount
    FROM est e JOIN exact x USING (user_id)""",
    "Count-Min Sketch frequency estimation (reference README's "
    "probabilistic-counting example, README.md:124-127): depth-4 x "
    "width-64 sketch built by one hash-explode + groupBy whose map-side "
    "combine bounds the shuffle at depth*width counters per partition; "
    "estimates via broadcast join + MIN. Output joins estimate vs exact "
    "per key — overcount >= 0 everywhere is the CMS one-sided guarantee, "
    "here verified bit-for-bit by the oracle.",
)
def q_cms_estimate(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    sketch = SKC.cms_build(ev, "user_id", depth=4, width=64)
    est = SKC.cms_lookup(sketch, ev.select("user_id").distinct(),
                         "user_id", depth=4, width=64)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    return (est.join(exact, "user_id")
               .select("user_id", "est", "exact_cnt",
                       (F.col("est") - F.col("exact_cnt")).alias("overcount")))


@query(
    "stratified_sample",
    "SELECT doc_id, lang, source FROM documents "
    "WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'), 1, 15) AS BIGINT)"
    " % 10000 < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 5000 ELSE 10000 END",
    "Deterministic stratified sampling for corpus mixing (keep 25% of en, "
    "50% of zh, all else): the keep decision is md5(doc_id||salt) mod 1e4 "
    "< rate — a pure scan-side expression, no shuffle/state/rand(), so the "
    "sample is reproducible run-to-run and per-stratum rate changes leave "
    "other strata byte-identical. The only sampling shape that needs zero "
    "coordination at 100 TB.",
)
def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return (SAMP.stratified_sample(docs, "lang", {"en": 0.25, "zh": 0.5},
                                   default_rate=1.0, key_col="doc_id",
                                   salt="mix1")
                .select("doc_id", "lang", "source"))


@query(
    "shard_pack",
    "SELECT doc_id, source, CAST(floor((sum(n_chars) OVER "
    "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars)"
    " / 1000.0) AS BIGINT) AS shard_id FROM documents",
    "Greedy shard packing for training-data output: within each source, "
    "docs are packed in id order into ~1000-char shards via a running-sum "
    "window (shard = floor(bytes-before-me / budget)) — deterministic, one "
    "shuffle on the partition column, no driver coordination. The standard "
    "way to emit fixed-size training shards; at 100 TB the window runs "
    "per-source in parallel and skewed sources sub-bucket by hash(doc_id) "
    "without changing the contract.",
)
def q_shard_pack(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    w = (Window.partitionBy("source").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    before_me = F.sum("n_chars").over(w) - F.col("n_chars")
    return docs.select(
        "doc_id", "source",
        F.floor(before_me / F.lit(1000.0)).cast("long").alias("shard_id"))


@query(
    "quality_filter_median",
    """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS ws,
                  text FROM documents),
    m AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
           len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is'))) AS sw,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS nonal,
           length(text) AS chars FROM t),
    q AS (SELECT doc_id, lang,
           floor((least(n_tokens / 100.0, 1.0) * 0.4 + (CAST(sw AS DOUBLE) / n_tokens) * 0.3
                 + (1.0 - CAST(nonal AS DOUBLE) / chars) * 0.3) * 10000 + 0.5) / 10000 AS quality
          FROM m),
    med AS (SELECT lang, quantile_cont(quality, 0.5) AS med FROM q GROUP BY lang)
    SELECT q.doc_id, q.lang, q.quality FROM q JOIN med USING (lang)
    WHERE q.quality >= med.med""",
    "Relative quality filtering: keep documents at or above their "
    "language's MEDIAN quality score (exact percentile, not a fixed "
    "threshold — per-stratum adaptive filtering is how real pipelines "
    "avoid hand-tuning cutoffs per language). One groupBy for the medians "
    "(5 rows, broadcast back), one scan for the filter.",
)
def q_quality_filter_median(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "text", "lang")
    q = TX.with_quality(docs).select("doc_id", "lang", "quality")
    med = q.groupBy("lang").agg(F.percentile("quality", 0.5).alias("med"))
    return (q.join(F.broadcast(med), "lang")
             .filter(F.col("quality") >= F.col("med"))
             .select("doc_id", "lang", "quality"))


@query(
    "reservoir_per_stratum",
    "SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM ("
    " SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY"
    "  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'rsv'), 1, 15) AS BIGINT),"
    "  doc_id) AS rn FROM documents) WHERE rn <= 20",
    "Deterministic k-per-stratum uniform sample (the reproducible "
    "reservoir): rank docs within each language by md5(doc_id||salt), keep "
    "the 20 smallest. Hash order is a uniform permutation, so this IS a "
    "uniform sample — but stable across runs and engines, unlike "
    "reservoir sampling with RNG state. The rank<=k filter compiles to "
    "WindowGroupLimit: each map task forwards at most k rows per stratum, "
    "so the final per-stratum sort sees executors*k rows, not the corpus.",
)
def q_reservoir_per_stratum(spark: SparkSession, sf: str) -> DataFrame:
    from .functions import md5_hash64
    docs = table(spark, sf, "documents")
    hk = md5_hash64(F.concat(F.col("doc_id").cast("string"), F.lit("rsv")))
    w = Window.partitionBy("lang").orderBy(hk.asc(), F.col("doc_id").asc())
    return (docs.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 20)
                .select("doc_id", "lang", F.col("rn").cast("long").alias("rn")))


@query(
    "tfidf_top_terms",
    f"""WITH toks AS (SELECT * FROM ({SQL_TOKENS}) WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
      FROM tf JOIN df USING (word) CROSS JOIN n)
    SELECT doc_id, word, tfidf, CAST(rn AS BIGINT) AS rn FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, word ASC) AS rn
      FROM scored) WHERE rn <= 3""",
    "Top-3 characteristic terms per document by TF-IDF: tf and df from one "
    "shared tokenize, idf's corpus size attached as a broadcast 1-row "
    "cross join, score rounded BEFORE ranking with a term tiebreak so the "
    "result is deterministic across engines. Rank filter -> "
    "WindowGroupLimit (map-side partial top-k).",
)
def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    return TX.tfidf_top_terms(table(spark, sf, "documents"), k=3)


@query(
    "knn_cosine",
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (SELECT q_id, c_id, floor(list_cosine_similarity(qv, cv) * 1e6 + 0.5) / 1e6 AS s6
               FROM q CROSS JOIN c WHERE q_id <> c_id)
    SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, s6, row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM scored) t WHERE rnk <= 5""",
    "Brute-force cosine top-5 for 20 query vectors: broadcast query set, "
    "codegen'd array-fold dot products, WindowGroupLimit rank prune.",
)
def q_knn_cosine(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return SIM.brute_force_knn(emb.filter(F.col("vec_id") < 20), emb, k=5)


@query(
    "knn_ivf",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    parts AS (SELECT label AS centroid_id, dim, v[dim] AS x
              FROM e, unnest(generate_series(1, len(v))) AS t(dim)),
    cents AS (SELECT centroid_id, list(m ORDER BY dim) AS centroid
              FROM (SELECT centroid_id, dim, avg(x) AS m FROM parts GROUP BY 1, 2)
              GROUP BY centroid_id),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
    routed AS (
      SELECT q_id, centroid_id FROM (
        SELECT q.q_id, c.centroid_id,
          row_number() OVER (PARTITION BY q.q_id
            ORDER BY floor(list_cosine_similarity(q.qv, c.centroid) * 1e6 + 0.5) / 1e6 DESC,
                     c.centroid_id) AS r
        FROM q CROSS JOIN cents c) WHERE r <= 2),
    cand AS (
      SELECT q.q_id, c.vec_id AS c_id,
             floor(list_cosine_similarity(q.qv, c.v) * 1e6 + 0.5) / 1e6 AS s6
      FROM routed r JOIN q ON q.q_id = r.q_id
      JOIN e c ON c.label = r.centroid_id
      WHERE q.q_id <> c.vec_id)
    SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, s6,
        row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM cand) t WHERE rnk <= 5""",
    "IVF-style two-stage ANN: label-centroid routing (nprobe=2) then exact "
    "rerank inside the probed buckets — the partition-pruned scale path. "
    "Oracle recomputes the centroids, routing and rerank in DuckDB (cosines "
    "rounded to 6 decimals before ranking on both sides).",
)
def q_knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return SIM.ivf_knn(emb.filter(F.col("vec_id") < 20), emb, k=5, nprobe=2)


def _kmeans_ctes(k: int | str = 8, iters: int = 2, prefix: str = "",
                 vec_expr: str = "embedding",
                 from_table: str = "embeddings") -> str:
    """Lloyd's iterations unrolled as CTE pairs (assign a{i} / update c{i+1});
    returns the WITH-body ending at a{iters} (the final assignment).
    `k` may be an int literal or a SQL scalar-subquery string (DuckDB
    accepts expressions in LIMIT), letting callers scale the cluster
    count with the corpus. `prefix` namespaces every CTE (the PQ oracle
    trains one codebook per subspace in a single statement) and
    `vec_expr` selects the trained vector (e.g. a list slice for PQ
    subvectors).

    Same arithmetic as operators/similarity.kmeans_train: squared-L2
    distances and centroid means pass through the engine-portable
    floor(x*1eD + 0.5)/1eD rounding before any comparison, ties break
    toward the lower centroid id."""
    p = prefix

    def dist(cent_rel: str) -> str:
        return ("floor(list_sum(list_transform(generate_series(1, len(v.e)), "
                f"i -> (v.e[i] - {cent_rel}.cent[i]) * (v.e[i] - {cent_rel}.cent[i])))"
                " * 1e6 + 0.5) / 1e6")

    def assign(i: int) -> str:
        return (f"{p}a{i} AS (SELECT vec_id, e, cid, d FROM ("
                f"  SELECT vec_id, e, cid, d, row_number() OVER "
                f"(PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ("
                f"    SELECT v.vec_id, v.e, c.cid, {dist('c')} AS d"
                f"    FROM {p}v v CROSS JOIN {p}c{i} c)) WHERE rn = 1)")

    def update(i: int) -> str:
        return (f"{p}c{i + 1} AS (SELECT cid, "
                f"list(floor(m * 1e6 + 0.5) / 1e6 ORDER BY dim) AS cent FROM ("
                f"  SELECT cid, dim, avg(e[dim]) AS m"
                f"  FROM {p}a{i}, unnest(generate_series(1, len(e))) AS u(dim)"
                f"  GROUP BY cid, dim) GROUP BY cid)")

    steps = ", ".join(f"{assign(i)}, {update(i)}" for i in range(iters))
    return f"""{p}v AS (SELECT vec_id, list_transform({vec_expr}, x -> CAST(x AS DOUBLE)) AS e
           FROM {from_table}),
    {p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, e AS cent
           FROM (SELECT vec_id, e FROM {p}v ORDER BY vec_id LIMIT {k})),
    {steps},
    {assign(iters)}"""


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    return (f"WITH {_kmeans_ctes(k, iters)} "
            f"SELECT vec_id, cid AS cluster, floor(d * 1e4 + 0.5) / 1e4 AS dist "
            f"FROM a{iters}")


@query(
    "kmeans_train",
    _kmeans_sql(k=8, iters=2),
    "Lloyd's k-means (k=8, 2 fixed iterations, lowest-id seeds) over the "
    "embedding corpus — trains the coarse quantizer the IVF index routes "
    "through, removing knn_ivf's dependence on a provided label. Per "
    "iteration: the k*dim-double centroid table broadcasts against the "
    "corpus scan (rank-pruned argmin), then per-dimension means recompute "
    "via posexplode + regroup; only (cid, dim, x) triples ever shuffle, "
    "never vectors, and the fixed iteration count means no driver-side "
    "convergence collect. Oracle unrolls the same iterations as CTEs with "
    "identical engine-portable rounding.",
)
def q_kmeans_train(spark: SparkSession, sf: str) -> DataFrame:
    return SIM.kmeans_train(table(spark, sf, "embeddings"), k=8, iters=2)


def _ivf_trained_sql(k: int = 8, iters: int = 2, nprobe: int = 2,
                     topk: int = 5) -> str:
    """Oracle for the full self-trained IVF pipeline: the kmeans CTEs
    produce the partition labels, then the knn_ivf routing/rerank runs
    over them exactly as in the `knn_ivf` oracle (centroid = mean of the
    assigned vectors, cosines rounded to 6 before ranking)."""
    return f"""WITH {_kmeans_ctes(k, iters)},
    lab AS (SELECT vec_id, cid AS label, e FROM a{iters}),
    parts AS (SELECT label AS centroid_id, dim, e[dim] AS x
              FROM lab, unnest(generate_series(1, len(e))) AS t(dim)),
    cents AS (SELECT centroid_id, list(m ORDER BY dim) AS centroid
              FROM (SELECT centroid_id, dim, avg(x) AS m FROM parts GROUP BY 1, 2)
              GROUP BY centroid_id),
    q AS (SELECT vec_id AS q_id, e AS qv FROM lab WHERE vec_id < 20),
    routed AS (
      SELECT q_id, centroid_id FROM (
        SELECT q.q_id, c.centroid_id,
          row_number() OVER (PARTITION BY q.q_id
            ORDER BY floor(list_cosine_similarity(q.qv, c.centroid) * 1e6 + 0.5) / 1e6 DESC,
                     c.centroid_id) AS r
        FROM q CROSS JOIN cents c) WHERE r <= {nprobe}),
    cand AS (
      SELECT q.q_id, c.vec_id AS c_id,
             floor(list_cosine_similarity(q.qv, c.e) * 1e6 + 0.5) / 1e6 AS s6
      FROM routed r JOIN q ON q.q_id = r.q_id
      JOIN lab c ON c.label = r.centroid_id
      WHERE q.q_id <> c.vec_id)
    SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, s6,
        row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM cand) t WHERE rnk <= {topk}"""


@query(
    "knn_ivf_trained",
    _ivf_trained_sql(k=8, iters=2, nprobe=2, topk=5),
    "The complete self-contained IVF pipeline: kmeans_train builds the "
    "codebook (no provided label), its assignments partition the corpus, "
    "and queries route through the nprobe=2 nearest trained centroids "
    "before the exact bucket-confined rerank — train -> partition -> "
    "prune -> rerank as ONE composed plan. At 100 TB the assignment step "
    "writes the corpus partitioned by cluster id once, and every "
    "subsequent query batch prunes >75% of the data on disk (the "
    "on-disk-pruning behavior is tested for the label-routed variant in "
    "test_ivf_partitioned_corpus_prunes_on_disk).",
)
def q_knn_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    # materialize the training output once (lazy localCheckpoint — the
    # deployment story is "write the assignment table once, query many");
    # without it the kmeans lineage re-executes for every consumer branch
    # (queries, corpus, centroid recompute) in this composed plan
    lab = (SIM.kmeans_train(emb, k=8, iters=2)
              .select("vec_id", F.col("cluster").alias("label"))
              .localCheckpoint(eager=False))
    corpus = emb.select("vec_id", "embedding").join(lab, "vec_id")
    return SIM.ivf_knn(corpus.filter(F.col("vec_id") < 20), corpus,
                       k=5, nprobe=2)


def _incremental_knn_sql(kclusters: int = 8, iters: int = 2,
                         nprobe: int = 2, topk: int = 5) -> str:
    """Oracle for the persisted-index path: the kmeans CTEs run over the
    EXISTING-corpus subset only (the stored index — c{iters} is the
    codebook, a{iters} the bucketed assignment), then the NEW batch
    routes against the STORED codebook (not recomputed assignment
    means) and reranks inside the probed buckets."""
    return f"""WITH {_kmeans_ctes(
        kclusters, iters,
        from_table="(SELECT * FROM embeddings WHERE vec_id % 10 <> 7)")},
    nb AS (SELECT vec_id AS q_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id % 10 = 7),
    routed AS (
      SELECT q_id, cid FROM (
        SELECT n.q_id, c.cid,
          row_number() OVER (PARTITION BY n.q_id
            ORDER BY floor(list_cosine_similarity(n.qv, c.cent) * 1e6 + 0.5)
                       / 1e6 DESC,
                     c.cid) AS r
        FROM nb n CROSS JOIN c{iters} c) WHERE r <= {nprobe}),
    cand AS (
      SELECT n.q_id, a.vec_id AS c_id,
             floor(list_cosine_similarity(n.qv, a.e) * 1e6 + 0.5) / 1e6 AS s6
      FROM routed r JOIN nb n USING (q_id)
      JOIN a{iters} a ON a.cid = r.cid)
    SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, s6,
        row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM cand) t WHERE rnk <= {topk}"""


@query(
    "incremental_knn",
    _incremental_knn_sql(kclusters=8, iters=2, nprobe=2, topk=5),
    "Incremental ANN against a PERSISTED IVF index — the day-over-day "
    "shape 100 TB similarity search actually runs in (the minhash "
    "family's write-once band index, applied to the ANN tier): the "
    "codebook is trained and the corpus bucketed ONCE on the existing "
    "data (vec_id % 10 = 7 stands in for today's new batch), then every "
    "new batch routes against the stored k-row codebook — touching ZERO "
    "original-corpus embedding bytes for routing (plan-tested) — and "
    "exact-reranks only inside its nprobe probed buckets, which prune "
    "on disk when the index is the cid-partitioned parquet "
    "build_ivf_index writes. Differs from knn_ivf_trained in exactly "
    "the incremental semantics: queries are NOT part of the trained "
    "corpus and routing uses the stored codebook, not recomputed "
    "assignment means. The parquet persisted path shares this exact "
    "routing/rerank code (operators/similarity.py:query_ivf_index), "
    "pinned equal by test.",
)
def q_incremental_knn(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 7)
    corpus = emb.filter(F.col("vec_id") % 10 != 7)
    return SIM.incremental_knn(new, corpus, k=5, nprobe=2,
                               kclusters=8, iters=2)


def _mp_flip_ctes(s: str, probes: int, max_flip: int) -> str:
    """Per-table probe-selection CTEs for _multiprobe_sql: emits
    `{s}fl` (the chosen XOR masks) and `{s}pr` (the probed buckets).
    max_flip=1 ranks single-plane flips by |margin| (ties to the lower
    plane index — for single-bit masks that IS the lower mask);
    max_flip=2 ranks the union of singles and plane PAIRS by summed
    |margin| (ties to the lower mask), exactly the struct ordering the
    Spark operator's array_sort applies."""
    if max_flip == 1:
        return f"""{s}fl AS (SELECT q_id, 1::BIGINT << p AS mask FROM (
             SELECT q_id, p, row_number() OVER
               (PARTITION BY q_id ORDER BY abs(d), p) AS rn FROM {s}qd)
           WHERE rn <= {probes - 1}),
    {s}pr AS (SELECT q_id, bk FROM {s}qb
           UNION ALL
           SELECT f.q_id, xor(qb.bk, f.mask)
           FROM {s}fl f JOIN {s}qb qb ON qb.q_id = f.q_id)"""
    return f"""{s}pt AS (SELECT q_id, abs(d) AS m, 1::BIGINT << p AS mask
             FROM {s}qd
           UNION ALL
           SELECT a.q_id, abs(a.d) + abs(b.d),
                  (1::BIGINT << a.p) + (1::BIGINT << b.p)
           FROM {s}qd a JOIN {s}qd b
             ON a.q_id = b.q_id AND a.p < b.p),
    {s}fl AS (SELECT q_id, mask FROM (
             SELECT q_id, mask, row_number() OVER
               (PARTITION BY q_id ORDER BY m, mask) AS rn FROM {s}pt)
           WHERE rn <= {probes - 1}),
    {s}pr AS (SELECT q_id, bk FROM {s}qb
           UNION ALL
           SELECT f.q_id, xor(qb.bk, f.mask)
           FROM {s}fl f JOIN {s}qb qb ON qb.q_id = f.q_id)"""


def _multiprobe_sql(planes: int = 8, dim: int = 64, probes: int = 3,
                    topk: int = 5, tables: int = 1,
                    max_flip: int = 1) -> str:
    """Oracle for knn_multiprobe: the same hyperplane literals as the
    Spark operator, with the probe-selection done relationally (one row
    per (query, plane), margin-ranked) and all rounding through the
    engine-portable floor(x*1eD + 0.5)/1eD. With ``tables`` > 1 the
    per-table candidate id-sets (table t salts as ``slsh-t{t}``) union,
    dedupe, and rerank once — mirroring the Spark operator's multi-table
    path stage-for-stage. ``max_flip=2`` switches probe selection to
    Hamming-2 perturbation sets: singles UNION ALL plane pairs, scored
    by summed |margin| (ties to the lower XOR mask), top probes-1 per
    query — the same candidate structs the Spark side array_sorts."""
    per_table = []
    for t in range(tables):
        salt = "slsh" if t == 0 else f"slsh-t{t}"
        w = D.signlsh_weights(planes, dim, salt)
        s = f"t{t}_"

        def wlit(p: int) -> str:
            return "[" + ", ".join(repr(x) for x in w[p]) + "]::DOUBLE[]"

        bits = " + ".join(
            f"(CASE WHEN floor(list_dot_product(v, {wlit(p)}) * 1e6 + 0.5) / 1e6 >= 0"
            f" THEN {2 ** p} ELSE 0 END)"
            for p in range(planes))
        pl_rows = ", ".join(f"({p}, {wlit(p)})" for p in range(planes))
        per_table.append(f"""{s}pl(p, w) AS (SELECT * FROM (VALUES {pl_rows})),
    {s}cb AS (SELECT vec_id, CAST({bits} AS BIGINT) AS bk FROM e),
    {s}qd AS (SELECT q_id, p,
             floor(list_dot_product(qv, w) * 1e6 + 0.5) / 1e6 AS d
           FROM q CROSS JOIN {s}pl),
    {s}qb AS (SELECT q_id,
             CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bk
           FROM {s}qd GROUP BY q_id),
    {_mp_flip_ctes(s, probes, max_flip)},
    {s}cnd AS (SELECT p.q_id, c.vec_id AS c_id
             FROM {s}pr p JOIN {s}cb c ON c.bk = p.bk
             WHERE p.q_id <> c.vec_id)""")
    union = " UNION ALL ".join(
        f"SELECT q_id, c_id FROM t{t}_cnd" for t in range(tables))
    tables_sql = ",\n    ".join(per_table)
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 20),
    {tables_sql},
    ids AS (SELECT DISTINCT q_id, c_id FROM ({union})),
    cand AS (SELECT i.q_id, i.c_id,
               floor(list_cosine_similarity(q.qv, c.v) * 1e6 + 0.5) / 1e6 AS s6
             FROM ids i JOIN q ON q.q_id = i.q_id
             JOIN e c ON c.vec_id = i.c_id)
    SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk FROM (
      SELECT q_id, c_id, s6,
        row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk
      FROM cand) t WHERE rnk <= {topk}"""


@query(
    "knn_multiprobe",
    _multiprobe_sql(planes=8, dim=64, probes=24, topk=5, tables=3,
                    max_flip=2),
    "Multi-probe multi-TABLE sign-LSH kNN — the third ANN tier, needing "
    "neither a label nor a trained codebook: corpus buckets are 8 "
    "hyperplane sign bits computed scan-side (no shuffle to assign; at "
    "100 TB the corpus is written partitioned by bucket once), and each "
    "query probes its own bucket plus 23 perturbed buckets chosen by "
    "Hamming-2 perturbation sets (Lv et al. VLDB'07 §4, r9): probe "
    "candidates are every single-plane flip AND every plane PAIR, "
    "scored by summed |margin| — the least-confident sign bits are "
    "where a true neighbor most likely flipped, and a pair of tiny "
    "margins outranks one confident flip. Measured clustered recall@5 "
    "at the shipped T=3: H1 probes=7 0.60 -> H2 probes=12/16/24 "
    "0.75/0.81/0.90 at UNCHANGED cost (probe count is expression-work, "
    "not data-path — the r8 A/B's cost-flat finding holds through "
    "p=37); p24 ships as the knee (p32 buys 0.92). Tables remain the "
    "other knob: independently-salted hyperplane sets whose candidate "
    "id-sets union + dedupe before ONE exact cosine rerank. Candidates "
    "meet only in bucket equi-joins. Oracle replicates per-table bucket "
    "bits, the perturbation-set ranking (singles UNION pairs, summed "
    "margins, ties to lower mask), the distinct-union, and the rerank "
    "with identical literals and portable rounding.",
)
def q_knn_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return SIM.multiprobe_signlsh_knn(emb.filter(F.col("vec_id") < 20), emb,
                                      k=5, planes=8, dim=64, probes=24,
                                      tables=3, max_flip=2)


def _semantic_dedup_sql(iters: int = 2, threshold: float = 0.25) -> str:
    """Oracle for semantic_dedup: kmeans CTEs -> within-cluster cosine
    pairs -> recursive-CTE components -> nearest-to-centroid keeper.
    The cluster count scales with the corpus (k = max(8, n // 250), a
    scalar subquery in the seed LIMIT) exactly like the Spark side, so
    the within-cluster pair stage stays O(n * avg_cluster_size) at any
    SF instead of O(n^2 / const)."""
    k = "(SELECT greatest(8, count(*) // 250) FROM v)"
    return f"""WITH RECURSIVE {_kmeans_ctes(k, iters)},
    asg AS (SELECT vec_id, cid, floor(d * 1e4 + 0.5) / 1e4 AS dist, e FROM a{iters}),
    prs AS (SELECT x.vec_id AS d1, y.vec_id AS d2
            FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id
            WHERE floor(list_cosine_similarity(x.e, y.e) * 1e4 + 0.5) / 1e4 >= {threshold}),
    sym AS (SELECT d1 AS src, d2 AS dst FROM prs
            UNION ALL SELECT d2, d1 FROM prs),
    walk(node, lbl) AS (
      SELECT vec_id, vec_id FROM asg
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node),
    grp AS (SELECT node AS vec_id, CAST(min(lbl) AS BIGINT) AS group_id
            FROM walk GROUP BY node),
    j AS (SELECT g.vec_id, g.group_id, a.dist
          FROM grp g JOIN asg a USING (vec_id))
    SELECT vec_id, group_id, dist,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM (SELECT vec_id, group_id, dist,
            row_number() OVER (PARTITION BY group_id
                               ORDER BY dist, vec_id) AS rn FROM j)"""


@query(
    "semantic_dedup",
    _semantic_dedup_sql(iters=2, threshold=0.25),
    "Semantic deduplication over embeddings (the SemDeDup-shaped "
    "pipeline): kmeans_train clusters the corpus, cosine near-dup pairs "
    "form ONLY within a cluster (bucket-confined — no all-pairs stage), "
    "connected components group transitive duplicates, and each group "
    "keeps its member nearest the trained centroid (the deterministic "
    "keeper policy; ties to the lower id). The cluster count scales "
    "with the corpus (k = max(8, n/250)) on BOTH sides, keeping the "
    "pair stage linear per 10x step; past the measured cost crossover "
    "(n*k > 50M assign folds — never reached at an oracle-verified SF) "
    "the assign passes switch to coarse-cell routing (kmeans_train "
    "routed=True — the FAISS quantizer-as-index practice), cutting the "
    "per-pass cost from n*k to ~n*2*sqrt(2k): the sf10 decade measured "
    "452s exact vs 68.8s routed (SCALE10_r08). End-to-end: the modern "
    "embedding-space dedup a 100 TB text corpus gets, composed from "
    "kmeans_train + embedding_near_dup_pairs + connected_components, "
    "with the training output materialized once (lazy localCheckpoint). "
    "Oracle composes the unrolled Lloyd's CTEs, the pair join and the "
    "recursive-CTE fixpoint.",
)
def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    # cluster count scales with the corpus so the within-cluster pair
    # stage stays O(n * avg_cluster_size); the count is one driver
    # scalar (same class as the CC convergence check). k resolves to 8
    # at every oracle-gated SF (n <= 2000) and grows past them.
    n = emb.count()
    k = max(8, n // 250)
    # routing gates on the assign pass's actual cost (n*k distance
    # folds, SIM.ROUTED_FOLD_GATE — the shared predicate the IVF
    # builders also use since r13): every oracle-verified SF (sf0.1:
    # n=2000, k=8 -> 16k folds) is far below the gate, so hash parity
    # always runs the exact bit-identical assign; measured crossover
    # numbers live on the constant's docstring.
    asg = (SIM.kmeans_train(emb, k=k, iters=2,
                            routed=SIM.use_routed_assign(n, k))
              .localCheckpoint(eager=False))      # (vec_id, cluster, dist)
    lab = emb.select("vec_id", "embedding").join(
        asg.select("vec_id", F.col("cluster").alias("label")), "vec_id")
    pairs = D.embedding_near_dup_pairs(lab, threshold=0.25,
                                       bucket_col="label")
    cc = D.connected_components(pairs.select("d1", "d2"),
                                emb.select("vec_id"), id_col="vec_id")
    j = (cc.join(asg.select("vec_id", "dist"), "vec_id")
           .select("vec_id",
                   F.col("cluster_id").cast("long").alias("group_id"),
                   "dist"))
    w = Window.partitionBy("group_id").orderBy("dist", "vec_id")
    return (j.withColumn("rn", F.row_number().over(w))
             .select("vec_id", "group_id", "dist",
                     F.when(F.col("rn") == 1, 1).otherwise(0)
                      .cast("int").alias("is_kept")))


@query(
    "embedding_near_dup",
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           floor(list_cosine_similarity(a.v, b.v) * 1e4 + 0.5) / 1e4 AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE floor(list_cosine_similarity(a.v, b.v) * 1e4 + 0.5) / 1e4 >= 0.25""",
    "Embedding-cosine near-dup pairs with label blocking (IVF-style bucket "
    "confinement — no all-pairs stage).",
)
def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    return D.embedding_near_dup_pairs(table(spark, sf, "embeddings"),
                                      threshold=0.25, bucket_col="label")


def _signlsh_sql(planes: int = 8, dim: int = 64, threshold: float = 0.25) -> str:
    w = D.signlsh_weights(planes, dim)
    bits = " + ".join(
        "(CASE WHEN floor(list_dot_product(v, ["
        + ", ".join(repr(x) for x in w[p])
        + f"]::DOUBLE[]) * 1e6 + 0.5) / 1e6 >= 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(planes))
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bits} AS bucket FROM e)
    SELECT a.vec_id AS d1, c.vec_id AS d2,
           floor(list_cosine_similarity(a.v, c.v) * 1e4 + 0.5) / 1e4 AS cos_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE floor(list_cosine_similarity(a.v, c.v) * 1e4 + 0.5) / 1e4 >= {threshold}"""


@query(
    "embedding_lsh_pairs",
    _signlsh_sql(8, 64, 0.25),
    "Embedding near-dup via sign-LSH (random hyperplanes): bucket = 8 sign "
    "bits of codegen'd array-fold dot products against a fixed md5-derived "
    "matrix baked as literals (identical in the oracle) — bucket "
    "assignment is scan-only, candidates meet in an equi-join on the "
    "bucket, cosine-verified. The no-metadata scale path: unlike "
    "embedding_near_dup (needs a label) and knn_ivf (needs centroids), "
    "this needs only the vectors.",
)
def q_embedding_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return D.embedding_signlsh_pairs(table(spark, sf, "embeddings"),
                                     planes=8, dim=64, threshold=0.25)


@query(
    "winnow_fingerprints",
    r"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
                   FROM documents),
    sh AS (
      SELECT doc_id, i AS pos,
             CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)
                  AS BIGINT) AS h
      FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(i)
      WHERE len(ws) >= 3)
    SELECT DISTINCT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM sh""",
    "Winnowing (MOSS-style) local fingerprints: the minimum of every "
    "sliding window of 4 consecutive 3-word-shingle hashes, distinct per "
    "doc. Guarantees a shared fingerprint for any >=6-token overlap — the "
    "positional complement to MinHash's whole-set sketch. One ordered "
    "window-min + distinct over (id, int64); document text never "
    "shuffles.",
)
def q_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    return D.winnow_fingerprints(table(spark, sf, "documents"), w=4, n=3)


def _benchmark_frags(docs: DataFrame) -> DataFrame:
    """The deterministic stand-in benchmark set shared by both
    decontamination queries: a 30-token slice of every 97th document."""
    tk = F.filter(tokens(F.col("text")), lambda x: x != "")
    return (docs.select(F.col("doc_id").alias("src_id"), tk.alias("ws"))
                .filter(((F.col("src_id") % 97) == 0) & (F.size("ws") >= 40))
                .select("src_id",
                        F.concat_ws(" ", F.slice("ws", 11, 30)).alias("frag")))


@query(
    "decontaminate",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    norm AS (SELECT doc_id, array_to_string(ws, ' ') AS ntext FROM tk),
    cont AS (SELECT doc_id AS src_id, array_to_string(list_slice(ws, 11, 40), ' ') AS frag
             FROM tk WHERE doc_id % 97 = 0 AND len(ws) >= 40)
    SELECT n.doc_id, c.src_id
    FROM norm n, cont c
    WHERE contains(' ' || n.ntext || ' ', ' ' || c.frag || ' ')""",
    "Benchmark decontamination: flag every document containing a "
    "benchmark fragment as a token-aligned run (the fragments here are "
    "30-token slices of every 97th document — a deterministic stand-in "
    "benchmark set). The oracle is the naive all-pairs contains; the "
    "Spark plan is candidate-driven: shared winnowing fingerprints "
    "(MOSS guarantee covers every >=6-token overlap, so candidates are "
    "a provable superset) equi-join on int64 hashes, then the tiny "
    "fragment set broadcasts for the exact space-padded contains "
    "verify — document text never enters a shuffle.",
)
def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return TX.decontaminate(docs, _benchmark_frags(docs))


@query(
    "decontaminate_bloom",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    norm AS (SELECT doc_id, array_to_string(ws, ' ') AS ntext FROM tk),
    cont AS (SELECT doc_id AS src_id, array_to_string(list_slice(ws, 11, 40), ' ') AS frag
             FROM tk WHERE doc_id % 97 = 0 AND len(ws) >= 40)
    SELECT n.doc_id, c.src_id
    FROM norm n, cont c
    WHERE contains(' ' || n.ntext || ' ', ' ' || c.frag || ' ')""",
    "Bloom-prefiltered decontamination — row-identical to `decontaminate` "
    "(Bloom filters have no false negatives and the exact fingerprint "
    "join kills the false positives, so the SAME oracle covers both; the "
    "driver verifies that identity every round). The variant exists for "
    "the 100 TB case the plain form cannot broadcast: a full eval-suite "
    "benchmark set whose fingerprint table is GBs. Its fragment "
    "fingerprints collapse to a fixed m-bit bitmap (m=2^16 here; sized "
    "by target false-positive rate, NOT benchmark size) that attaches as "
    "a ONE-ROW broadcast array<long>, and corpus fingerprints probe it "
    "with shiftright/AND arithmetic inside whole-stage codegen — the "
    "non-candidate bulk of the corpus is discarded at scan time, before "
    "any shuffle. The bitmap build itself aggregates map-side (bit_or "
    "over int64 words) and ships <= m/64 rows to the driver — bounded "
    "by the constant m, never by data.",
)
def q_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return TX.decontaminate_bloom(docs, _benchmark_frags(docs),
                                  m_bits=1 << 16, probes=2)


@query(
    "repetition_stats",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
             CASE WHEN len(ws) > 0
                  THEN floor((1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws))
                             * 10000 + 0.5) / 10000
                  ELSE 0.0 END AS dup_token_frac,
             ws FROM tk),
    bgs AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
            FROM base, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE len(ws) >= 2),
    cnt AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY doc_id, bg),
    share AS (SELECT doc_id,
              floor(CAST(max(c) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000
                AS top_bigram_share
              FROM cnt GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens, b.dup_token_frac,
           coalesce(s.top_bigram_share, 0.0) AS top_bigram_share,
           (b.dup_token_frac > 0.5 OR coalesce(s.top_bigram_share, 0.0) > 0.2)
             AS repetitive
    FROM base b LEFT JOIN share s USING (doc_id)""",
    "Within-document repetition signals (the Gopher-rules quality-filter "
    "family): duplicate-token fraction (pure array arithmetic, scan "
    "speed) and top-bigram share (bigram explode -> per-(doc,bigram) "
    "count -> per-doc max; two linear shuffles on (id, small string)), "
    "with the combined repetitive flag. Catches token/phrase loops that "
    "length/stopword quality scores miss.",
)
def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    return TX.repetition_stats(table(spark, sf, "documents"))


def _pii_sql() -> str:
    """Oracle for pii_redact: identical deterministic PII injection (the
    synthetic corpus carries no natural PII, so every 5th/7th/11th doc
    gets an email / IPv4 / phone derived from its id — both engines build
    the same augmented text), then the same ordered count-and-mask
    cascade as operators/text.PII_PATTERNS."""
    from .operators.text import PII_PATTERNS
    aug = (
        "text"
        " || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )
    cur = "text"
    cols = []
    for name, pat, repl in PII_PATTERNS:
        cols.append(f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT)"
                    f" AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    cols.append(f"{cur} AS redacted")
    return (f"WITH aug AS (SELECT doc_id, {aug} AS text FROM documents) "
            f"SELECT doc_id, {', '.join(cols)} FROM aug")


@query(
    "pii_redact",
    _pii_sql(),
    "PII redaction: mask emails, IPv4 addresses and phone-shaped digit "
    "runs with per-document match counts — the scrubbing pass every "
    "training corpus gets before tokenization. Counts respect mask order "
    "(each pattern counted on the text as masked by its predecessors). "
    "Pure nested regexp expressions at scan speed — generalizes the "
    "reference's regex anonymizer (P12, "
    "MixAndMatchLambdaIntegrationTest.java:58-91). The corpus is "
    "synthetic, so a deterministic id-derived PII injection (shared "
    "verbatim with the oracle) provides the matches.",
)
def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@example.com"))).otherwise(""),
        F.when(did % 7 == 0,
               F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                        F.lit(".0."), (did % 100).cast("string"))).otherwise(""),
        F.when(did % 11 == 0,
               F.concat(F.lit(" call 555-"),
                        F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
    )
    return TX.pii_redact(docs.select("doc_id", aug.alias("text")))


@query(
    "pack_sequences",
    r"""WITH t AS (SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n
         FROM documents),
    p AS (SELECT doc_id, n,
            CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS BIGINT) AS s
          FROM t),
    e AS (SELECT doc_id, n, s, j AS seq_id
          FROM p, unnest(generate_series(s // 256, (s + n - 1) // 256)) AS u(j)
          WHERE n > 0)
    SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(s, seq_id * 256) - seq_id * 256 AS BIGINT) AS seq_off,
           CAST(greatest(s, seq_id * 256) - s AS BIGINT) AS tok_from,
           CAST(least(s + n, (seq_id + 1) * 256) - s AS BIGINT) AS tok_to
    FROM e""",
    "Training-sequence packing: the corpus concatenated in id order and "
    "cut into fixed 256-token sequences, each document mapped to the "
    "sequences it spans with (seq_off, tok_from, tok_to) — the LM "
    "dataloader step after cleaning; any worker assembles any sequence "
    "with O(1) lookups. The global token prefix-sum is range-bucketed "
    "two-phase (global_shuffle's pattern), never a single-partition "
    "window; the oracle computes the same prefix with a plain ordered "
    "window (exact integer arithmetic on both sides).",
)
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    return TX.pack_sequences(table(spark, sf, "documents"), budget=256)


@query(
    "unigram_surprisal",
    f"""WITH tk AS (SELECT doc_id, word FROM ({SQL_TOKENS}) WHERE word <> ''),
    cnt AS (SELECT word, count(*) AS c FROM tk GROUP BY word),
    tot AS (SELECT sum(c) AS t FROM cnt),
    sc AS (SELECT tk.doc_id,
             CAST(floor(-ln(CAST(c AS DOUBLE) / t) * 1e6 + 0.5) AS BIGINT) AS s6
           FROM tk JOIN cnt USING (word) CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           floor(CAST(sum(s6) AS DOUBLE) / (count(*) * 1e6) * 1e4 + 0.5) / 1e4
             AS surprisal
    FROM sc GROUP BY doc_id""",
    "Corpus-LM surprisal per document (the perplexity-filter family, "
    "CCNet-style): mean -ln p(token) under the corpus's own unigram "
    "model. Low = boilerplate, high = rare-token noise; the middle band "
    "is what LM training keeps. Two corpus passes: one builds the "
    "unigram count table, one streams the scoring join (both shuffles "
    "linear in token volume, keyed by word; at 100 TB persist the "
    "vocabulary-sized count table); the corpus total is a 1-row "
    "broadcast. "
    "Per-token log-probs round at 6 before the per-doc mean so the "
    "oracle comparison doesn't ride on cross-engine libm identity.",
)
def q_unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    return TX.unigram_surprisal(table(spark, sf, "documents"))


@query(
    "bigram_surprisal",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    uni AS (SELECT w, count(*) AS c
            FROM (SELECT unnest(ws) AS w FROM tk) GROUP BY w),
    tot AS (SELECT sum(c) AS t FROM uni),
    bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
           FROM tk, unnest(generate_series(1, len(ws) - 1)) AS u(i)
           WHERE len(ws) >= 2),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    sc AS (SELECT bg.doc_id,
             CAST(floor(-ln(0.7 * (CAST(c12.c12 AS DOUBLE) / u1.c)
                       + 0.3 * (CAST(u2.c AS DOUBLE) / tot.t)) * 1e6 + 0.5)
                  AS BIGINT) AS s6
           FROM bg JOIN c12 USING (w1, w2)
           JOIN uni u1 ON u1.w = bg.w1
           JOIN uni u2 ON u2.w = bg.w2
           CROSS JOIN tot),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              floor(CAST(sum(s6) AS DOUBLE) / (count(*) * 1e6) * 1e4 + 0.5)
                / 1e4 AS surprisal
            FROM sc GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.surprisal, 0.0) AS surprisal
    FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "Interpolated bigram-LM surprisal (lam=0.7 bigram MLE + 0.3 unigram "
    "backoff) — the word-ORDER-aware upgrade to unigram_surprisal: "
    "shuffled token salad with innocuous unigrams lights up here. "
    "Bigram counts shuffle on (w1, w2); the scoring side probes the "
    "bigram and unigram tables via word-keyed equi-joins (linear in "
    "token volume); the blend keeps an explicit association order "
    "shared with the oracle; logs quantize to integer micro-nats before "
    "an order-exact per-doc mean (a run-to-run flaky avg-of-grid-values "
    "half-boundary was observed here at sf0.1 — integer sums removed "
    "it). Docs with fewer than two tokens report (0, 0.0).",
)
def q_bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    return TX.bigram_surprisal(table(spark, sf, "documents"), lam=0.7)


def _lang_sql() -> str:
    from .operators.text import STOPWORDS
    scores = ", ".join(
        "len(list_filter(ws, x -> x IN ({}))) AS sc_{}".format(
            ", ".join(f"'{w}'" for w in words), lang)
        for lang, words in STOPWORDS.items())
    return f"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS ws
                          FROM documents),
    s AS (SELECT doc_id, lang, {scores} FROM t)
    SELECT doc_id, lang, CASE
      WHEN sc_de > sc_en AND sc_de >= sc_fr AND sc_de >= sc_es THEN 'de'
      WHEN sc_fr > sc_en AND sc_fr >= sc_es THEN 'fr'
      WHEN sc_es > sc_en THEN 'es'
      ELSE 'en' END AS pred_lang FROM s"""


@query(
    "lang_id",
    _lang_sql(),
    "Language id via stopword-profile scoring (deterministic heuristic; "
    "array filter + conditional argmax, scan-speed).",
)
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "lang", "text")
    return TX.with_lang_pred(docs).select("doc_id", "lang", "pred_lang")


@query(
    "quality_score",
    """WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ws
                  FROM documents),
    m AS (SELECT doc_id, text, CAST(len(ws) AS BIGINT) AS n_tokens,
           len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is'))) AS sw,
           list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS toklen,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS nonal,
           length(text) AS chars FROM t)
    SELECT doc_id, n_tokens,
      floor(CAST(toklen AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000 AS mean_token_len,
      floor(CAST(sw AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000 AS stopword_ratio,
      floor((least(n_tokens / 100.0, 1.0) * 0.4 + (CAST(sw AS DOUBLE) / n_tokens) * 0.3
            + (1.0 - CAST(nonal AS DOUBLE) / chars) * 0.3) * 10000 + 0.5) / 10000 AS quality
    FROM m""",
    "Document quality scoring: token count, mean token length, stopword "
    "ratio, punctuation ratio → bounded score.",
)
def q_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "text")
    return TX.with_quality(docs).select(
        "doc_id", "n_tokens", "mean_token_len", "stopword_ratio", "quality")


@query(
    "token_count",
    "SELECT doc_id, CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens, "
    "CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe, "
    "CAST(ceil(length(text) / 4) AS BIGINT) AS n_tokens_chars4 FROM documents",
    "Token counting: whitespace tokens, BPE-ish regex pre-tokens "
    "(alnum runs + punctuation), chars/4 heuristic.",
)
def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    return TX.token_counts(table(spark, sf, "documents"))


@query(
    "corpus_prep",
    "WITH scored AS ("
    " SELECT doc_id,"
    "  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,"
    "  CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens,"
    "  length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) / length(text) AS bad"
    " FROM documents), "
    "kept AS (SELECT doc_id, fp, n_tokens FROM scored"
    "         WHERE n_tokens >= 25 AND bad <= 0.4), "
    "keepers AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp) "
    "SELECT k.doc_id, k.fp, k.n_tokens "
    "FROM kept k JOIN keepers u ON k.fp = u.fp AND k.doc_id = u.doc_id",
    "Flagship training-data prep composition: quality gate (token floor + "
    "non-alphanumeric ceiling) then exact dedup keeping the smallest id "
    "per fingerprint — the filter->dedup chain every corpus build runs, "
    "as ONE pass (one scan, one fp shuffle; text never shuffles).",
)
def q_corpus_prep(spark: SparkSession, sf: str) -> DataFrame:
    # min_tokens=25 sits inside the fixture's 10-99 token range so the
    # quality gate demonstrably rejects documents (~20% at sf0.01)
    return TX.corpus_prep(table(spark, sf, "documents"), min_tokens=25)


@query(
    "fingerprint",
    "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM documents",
    "Document fingerprint: md5 over whitespace-normalized lowercased text.",
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return TX.fingerprint(table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# §2.6 stateful custom processors — batch analogs (rows-only checks)


@query(
    "inventory_reservation",
    # the sequential reserve-if-fits machine IS SQL-expressible: a per-key
    # recursive CTE walking rows in (shipdate, orderkey, linenumber) order,
    # carrying the reserved level (failed rows consume no stock, so this is
    # NOT a cumulative sum — the recursion is required)
    "WITH RECURSIVE ordered AS ("
    " SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,"
    "        100.0 + (l_partkey % 50) * 10.0 AS stock,"
    "        row_number() OVER (PARTITION BY l_partkey"
    "                           ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn"
    " FROM lineitem), "
    "walk AS ("
    " SELECT l_partkey, l_orderkey, l_linenumber, l_quantity, rn, stock,"
    "  CASE WHEN l_quantity <= stock THEN l_quantity ELSE 0 END AS reserved,"
    "  CASE WHEN l_quantity <= stock THEN 'PASS' ELSE 'FAIL' END AS result"
    " FROM ordered WHERE rn = 1"
    " UNION ALL"
    " SELECT o.l_partkey, o.l_orderkey, o.l_linenumber, o.l_quantity, o.rn, o.stock,"
    "  w.reserved + CASE WHEN w.reserved + o.l_quantity <= o.stock"
    "               THEN o.l_quantity ELSE 0 END,"
    "  CASE WHEN w.reserved + o.l_quantity <= o.stock THEN 'PASS' ELSE 'FAIL' END"
    " FROM ordered o JOIN walk w ON o.l_partkey = w.l_partkey AND o.rn = w.rn + 1) "
    "SELECT l_partkey, l_orderkey, l_linenumber, l_quantity, result FROM walk",
    "T3 inventory reservation: per product, process lineitems in shipdate "
    "order, reserve stock while capacity remains, PASS/FAIL per line "
    "(InventoryService.java:107-169). applyInPandas per key — parallel "
    "across keys, sequential within, matching Kafka Streams' per-partition "
    "ordering guarantee. Oracle: per-key recursive CTE carrying the "
    "reserved level row-by-row (full hash-check, not rows-only).",
)
def q_inventory_reservation(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")

    def reserve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["l_shipdate", "l_orderkey", "l_linenumber"])
        stock = 100.0 + float(pdf["l_partkey"].iloc[0] % 50) * 10.0
        reserved = 0.0
        results = []
        for qty in pdf["l_quantity"]:
            if reserved + qty <= stock:
                reserved += qty
                results.append("PASS")
            else:
                results.append("FAIL")
        return pd.DataFrame({
            "l_partkey": pdf["l_partkey"], "l_orderkey": pdf["l_orderkey"],
            "l_linenumber": pdf["l_linenumber"],
            "l_quantity": pdf["l_quantity"], "result": results})

    return li.groupBy("l_partkey").applyInPandas(
        reserve, schema="l_partkey bigint, l_orderkey bigint, l_linenumber int, "
                        "l_quantity double, result string")


@query(
    "running_counts_trace",
    "SELECT event_id, user_id, CAST(row_number() OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS running_count "
    "FROM events",
    "T1 per-update changelog trace "
    "(StateStoresInTheDSLIntegrationTest.java:118-126 asserts EVERY "
    "intermediate increment, not just the final count): the full stream of "
    "state-store updates reconstructed as a batch query — for each event, "
    "the running per-key count at the moment it was processed "
    "(event order = ts, event_id tie-break, matching the reference's "
    "per-partition processing order). The streaming half is "
    "streaming/stateful.py:running_counts; this oracle closes the "
    "final-state-only narrowing documented in SURVEY §4.2.",
)
def q_running_counts_trace(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w).cast("bigint").alias("running_count"))


@query(
    "salted_join_skew",
    # oracle is the PLAIN join — proving the salted rewrite answer-identical
    "WITH dim AS (SELECT DISTINCT event_type, upper(event_type) AS type_label "
    "             FROM events) "
    "SELECT e.event_id, e.event_type, d.type_label "
    "FROM events e JOIN dim d ON e.event_type = d.event_type",
    "Skew-mitigated join (operators/skew.py:salted_join): events carry only "
    "5 distinct event_type values (~2000 rows each at sf0.01 — a maximally "
    "hot join key), so a plain shuffle join lands each key on ONE reducer. "
    "The salted rewrite spreads every hot key across 16 salt buckets "
    "(big side gets rand-salt, dim side replicates 16x) and the oracle is "
    "the unsalted join — the hash-match IS the row-identity proof that the "
    "mitigation preserves answers. At 100 TB this is the shape for "
    "fact x small-dim joins too big to broadcast with Zipf keys.",
)
def q_salted_join_skew(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select("event_id", "event_type")
    dim = (ev.select("event_type").distinct()
             .withColumn("type_label", F.upper("event_type")))
    return SK.salted_join(ev, dim, ["event_type"], salt=16)


# ---------------------------------------------------------------------------
# Flagship end-to-end topologies (SURVEY §7.1 step 10): each composes the
# operator packs above exactly the way the reference's three headline
# applications do, mapped onto the testdata star schema.


@query(
    "music_charts",
    "WITH counts AS ("
    " SELECT p.p_brand AS genre, p.p_partkey AS song_id, p.p_name AS song_name,"
    "        count(*) AS plays"
    " FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey"
    " WHERE l.l_quantity >= 5 GROUP BY 1, 2, 3) "
    "SELECT genre, CAST(rnk AS BIGINT) AS rnk, song_id, song_name, plays FROM ("
    " SELECT genre, song_id, song_name, plays,"
    "  row_number() OVER (PARTITION BY genre ORDER BY plays DESC, song_id) AS rnk"
    " FROM counts) WHERE rnk <= 5 "
    "UNION ALL "
    "SELECT '__overall__' AS genre, CAST(rnk AS BIGINT) AS rnk, song_id, song_name, plays FROM ("
    " SELECT song_id, song_name, plays,"
    "  row_number() OVER (ORDER BY plays DESC, song_id) AS rnk"
    " FROM counts) WHERE rnk <= 5",
    "Flagship 1 — KafkaMusic charts (KafkaMusicExample.java:281-378): filter "
    "short plays (P1), re-key by song (P4), count plays (A1), broadcast-join "
    "the song catalog (J1/S3), maintain top-5 per genre AND overall (A8/A9 "
    "TopFiveSongs). lineitem = play events, part = song catalog, p_brand = "
    "genre. Rank ties broken by song id asc exactly like the TreeSet "
    "comparator (KafkaMusicExample.java:455-498).",
)
def q_music_charts(spark: SparkSession, sf: str) -> DataFrame:
    plays = (table(spark, sf, "lineitem")
             .filter(F.col("l_quantity") >= 5)
             .select(F.col("l_partkey").alias("song_id")))
    songs = (table(spark, sf, "part")
             .select(F.col("p_partkey").alias("song_id"),
                     F.col("p_name").alias("song_name"),
                     F.col("p_brand").alias("genre")))
    counts = (plays.join(F.broadcast(songs), "song_id")
                   .groupBy("genre", "song_id", "song_name")
                   .agg(F.count("*").alias("plays")))
    # two-level rank: per-genre top-5 first (WindowGroupLimit prunes to 5
    # candidates per genre map-side), then the overall chart ranks ONLY the
    # per-genre winners — valid because a global top-5 song is necessarily
    # top-5 within its own genre, and it caps the single-partition overall
    # rank at 5*|genres| rows instead of |songs| (the 100x hardening from
    # VERDICT r1; the shared genre_top subtree is one exchange, reused)
    order = [F.col("plays").desc(), F.col("song_id")]
    genre_top = TK.top_k_per_group(counts, ["genre"], order, k=5)
    overall = TK.top_k_per_group(
        genre_top.select(F.lit("__overall__").alias("genre"),
                         "song_id", "song_name", "plays"),
        ["genre"], order, k=5)
    out = genre_top.unionByName(overall)
    return out.select("genre", F.col("rnk").cast("bigint").alias("rnk"),
                      "song_id", "song_name", "plays")


@query(
    "pageview_region",
    "WITH uregion AS ("
    " SELECT c_custkey AS user_id, n_name AS region"
    " FROM customer JOIN nation ON c_nationkey = n_nationkey) "
    "SELECT coalesce(r.region, 'UNKNOWN') AS region, "
    "time_bucket(INTERVAL '6 hours', e.ts, TIMESTAMP '1970-01-01') - (k.k * INTERVAL '6 hours') "
    "AS window_start, count(*) AS n_views "
    "FROM events e LEFT JOIN uregion r ON e.user_id = r.user_id "
    "CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k "
    "GROUP BY 1, 2",
    "Flagship 2 — PageViewRegion (PageViewRegionLambdaExample.java:139-196): "
    "pageview stream leftJoins the user-region KTable (J1, null region -> "
    "'UNKNOWN' like the reference's default), then counts views per region "
    "over hopping windows (W2: 1-day size / 6-hour advance). events = "
    "pageviews, customer x nation = the region dimension (broadcast).",
)
def q_pageview_region(spark: SparkSession, sf: str) -> DataFrame:
    views = table(spark, sf, "events").select("user_id", "ts")
    uregion = (table(spark, sf, "customer")
               .join(F.broadcast(table(spark, sf, "nation")),
                     F.col("c_nationkey") == F.col("n_nationkey"))
               .select(F.col("c_custkey").alias("user_id"),
                       F.col("n_name").alias("region")))
    return (views.join(F.broadcast(uregion), "user_id", "left")
                 .withColumn("region", F.coalesce("region", F.lit("UNKNOWN")))
                 .groupBy("region", F.window("ts", "1 day", "6 hours"))
                 .agg(F.count("*").alias("n_views"))
                 .select("region", F.col("window.start").alias("window_start"),
                         "n_views"))


@query(
    "order_validation",
    "WITH details AS ("
    " SELECT o_orderkey,"
    "  CASE WHEN o_totalprice > 0 AND o_totalprice <= 450000 THEN 1 ELSE 0 END AS pass"
    " FROM orders), "
    "fraud AS ("
    " SELECT o_orderkey, CASE WHEN day_total <= 400000 THEN 1 ELSE 0 END AS pass"
    " FROM (SELECT o_orderkey, sum(o_totalprice) OVER"
    "        (PARTITION BY o_custkey, date_trunc('day', o_orderdate)) AS day_total"
    "       FROM orders)), "
    "inv AS ("
    " SELECT o_orderkey, CASE WHEN coalesce(q, 0) <= 250 THEN 1 ELSE 0 END AS pass"
    " FROM orders LEFT JOIN (SELECT l_orderkey, sum(l_quantity) AS q"
    "                        FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey), "
    "votes AS ("
    " SELECT o_orderkey, CAST(sum(pass) AS BIGINT) AS n_pass FROM ("
    "  SELECT * FROM details UNION ALL SELECT * FROM fraud UNION ALL SELECT * FROM inv)"
    " GROUP BY 1) "
    "SELECT o.o_orderkey, v.n_pass, "
    "CASE WHEN v.n_pass = 3 THEN 'VALIDATED' ELSE 'FAILED' END AS status, "
    "round(o.o_totalprice, 2) AS o_totalprice "
    "FROM orders o JOIN votes v ON o.o_orderkey = v.o_orderkey",
    "Flagship 3 — microservices order validation "
    "(ValidationsAggregatorService.java:96-139 + FraudService.java:78-130 + "
    "InventoryService.java:94-169 + OrderDetailsService.java:76-101): three "
    "validators run in parallel over the order stream (P10 fan-out) — "
    "details range-check, fraud per-customer-per-day spend limit (W4 "
    "session-style agg), inventory per-order quantity cap — their verdicts "
    "merge (P11 union), PASS votes aggregate per order (A1), and the tally "
    "joins back to the original orders (J3) as VALIDATED/FAILED.",
)
def q_order_validation(spark: SparkSession, sf: str) -> DataFrame:
    # The reference fans one topic out to three consumers and merges their
    # verdicts back through a shared topic; all three read the SAME order
    # stream, so the Spark-first shape is ONE scan carrying three verdict
    # columns — a literal translation (3-way self-union) would scan and
    # shuffle orders three times for identical output.
    orders = table(spark, sf, "orders")
    qty = (table(spark, sf, "lineitem")
           .groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q")))
    day_w = Window.partitionBy("o_custkey", F.date_trunc("day", F.col("o_orderdate")))
    details_ok = ((F.col("o_totalprice") > 0)
                  & (F.col("o_totalprice") <= 450000)).cast("int")
    fraud_ok = (F.sum("o_totalprice").over(day_w) <= 400000).cast("int")
    inv_ok = (F.coalesce("q", F.lit(0.0)) <= 250).cast("int")
    return (orders
            .join(qty, orders.o_orderkey == qty.l_orderkey, "left")
            .withColumn("n_pass", (details_ok + fraud_ok + inv_ok).cast("bigint"))
            .select("o_orderkey", "n_pass",
                    F.when(F.col("n_pass") == 3, "VALIDATED")
                     .otherwise("FAILED").alias("status"),
                    F.round("o_totalprice", 2).alias("o_totalprice")))


# ---------------------------------------------------------------------------
# Remaining reference surface: poison-pill handling, distinct counting
# (exact + sketch, README.md:124-127), and rollup (bonus per SURVEY §2.4).


@query(
    "corrupt_skip",
    "WITH payloads AS ("
    " SELECT CASE WHEN event_id % 7 = 0"
    "  THEN substr(props, 1, length(props) - 1) ELSE props END AS payload"
    " FROM events), "
    "parsed AS ("
    " SELECT CASE WHEN json_valid(payload)"
    "  THEN CAST(json_extract_string(payload, '$.k') AS BIGINT) END AS k"
    " FROM payloads) "
    "SELECT count(*) AS n_total, count(*) FILTER (k IS NULL) AS n_skipped, "
    "CAST(sum(k) AS BIGINT) AS sum_k FROM parsed",
    "S11 corrupt-record skip ('poison pill', "
    "HandlingCorruptedInputRecordsIntegrationTest.java:79-99): every 7th "
    "record's JSON payload is deterministically truncated (both Spark and "
    "DuckDB parsers are lenient about trailing garbage but reject "
    "unterminated objects); the try-parse emits "
    "null for corrupt rows which are then skipped, and the survivors "
    "aggregate. No task failure, no job abort — exactly the reference's "
    "catch-and-drop flatMap contract.",
)
def q_corrupt_skip(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    payload = F.when(F.col("event_id") % 7 == 0,
                     F.expr("substr(props, 1, length(props) - 1)")
                     ).otherwise(F.col("props"))
    k = F.get_json_object(payload, "$.k").cast("bigint")
    return (ev.select(k.alias("k"))
              .agg(F.count("*").alias("n_total"),
                   F.count(F.when(F.col("k").isNull(), 1)).alias("n_skipped"),
                   F.sum("k").alias("sum_k")))


@query(
    "distinct_users",
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY 1",
    "Exact distinct count per key — the deterministic baseline for the "
    "probabilistic counting example (README.md:124-127).",
)
def q_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    return (ev.groupBy("event_type")
              .agg(F.count_distinct("user_id").cast("bigint").alias("n_users")))


@query(
    "approx_distinct",
    # sketch estimates are algorithm-specific (Spark HLL++ vs DuckDB HLL),
    # so the contract is a deterministic ERROR BOUND: the Spark side joins
    # the sketch against the exact count and asserts |est - exact| <= 3*rsd
    # * exact inside the query; the oracle states the bound must hold
    # (within_bound TRUE for every key). A sketch drifting out of its
    # advertised error now hash-mismatches instead of passing rows-only.
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact, "
    "TRUE AS within_bound FROM events GROUP BY 1",
    "Probabilistic distinct count per key (README.md:124-127 references the "
    "Count-Min-Sketch Scala example; pom.xml:188-189 declares the algebird "
    "dep). Spark-native sketch: HyperLogLog++ via approx_count_distinct — "
    "mergeable partial sketches, one shuffle, O(1) state per key exactly "
    "like the reference's CMSStore. Checked as a deterministic bound: "
    "relative error <= 3*rsd vs the exact count.",
)
def q_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    rsd = 0.02
    ev = table(spark, sf, "events")
    both = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=rsd).cast("bigint").alias("n_approx"),
        F.count_distinct("user_id").cast("bigint").alias("n_users_exact"))
    return both.select(
        "event_type", "n_users_exact",
        (F.abs(F.col("n_approx") - F.col("n_users_exact"))
         <= 3 * rsd * F.col("n_users_exact")).alias("within_bound"))


@query(
    "rollup_sales",
    "SELECT coalesce(r_name, '__ALL__') AS region, "
    "coalesce(CASE WHEN GROUPING(n_name) = 0 THEN n_name END, '__ALL__') AS nation, "
    "CAST(count(*) AS BIGINT) AS n_orders, round(sum(o_totalprice), 2) AS revenue "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY ROLLUP(r_name, n_name)",
    "Bonus (SURVEY §2.4 'grouping sets / cube / rollup — absent in "
    "reference'): hierarchical revenue rollup region -> nation -> grand "
    "total via GROUP BY ROLLUP; partial aggregates merge in one pass.",
)
def q_rollup_sales(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer")
    nat = table(spark, sf, "nation")
    reg = table(spark, sf, "region")
    joined = (orders
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")))
    return (joined.rollup("r_name", "n_name")
                  .agg(F.count("*").cast("bigint").alias("n_orders"),
                       F.round(F.sum("o_totalprice"), 2).alias("revenue"))
                  .select(F.coalesce("r_name", F.lit("__ALL__")).alias("region"),
                          F.coalesce("n_name", F.lit("__ALL__")).alias("nation"),
                          "n_orders", "revenue"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (beyond-reference, SURVEY §7.1 step 12): binary
# payload + typed metadata moved through Arrow-batched mapInPandas. The
# codec itself is injected (deterministic byte-level fake here; a real
# image/audio decoder in production) — the Spark-side schema, batching and
# fan-out shapes are the real thing and are what the oracle verifies.


@query(
    "media_features",
    "SELECT doc_id AS media_id, "
    "CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality, "
    "CAST(length(text) AS BIGINT) AS n_bytes, "
    "CAST(length(text) % 251 AS DOUBLE) AS f_len, "
    "CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f_first, "
    "CAST(ascii(substr(text, length(text), 1)) AS DOUBLE) AS f_last "
    "FROM documents",
    "Multimodal decode/feature-extract: binary payload + metadata struct "
    "through mapInPandas (constant-memory Arrow batches; see "
    "operators/multimodal.py scale notes). Payloads are the utf-8 bytes of "
    "documents.text so the injected decode is byte-deterministic and "
    "DuckDB-checkable.",
)
def q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    from .operators import multimodal as MM

    media = MM.media_from_documents(table(spark, sf, "documents"))

    def decode(payload: bytes, meta: dict) -> list[float]:
        # empty payload -> 0.0 features, matching the oracle's ascii('') = 0
        if not payload:
            return [0.0, 0.0, 0.0]
        return [float(len(payload) % 251), float(payload[0]), float(payload[-1])]

    feats = MM.extract_features(media, decode_fn=decode)
    return feats.select(
        "media_id", "modality", "n_bytes",
        F.col("feature")[0].cast("double").alias("f_len"),
        F.col("feature")[1].cast("double").alias("f_first"),
        F.col("feature")[2].cast("double").alias("f_last"))


@query(
    "frame_sample",
    "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_no, "
    "CAST(least(16, length(text) - i * 16) AS BIGINT) AS frame_len "
    "FROM documents, "
    "unnest(generate_series(0, CAST(ceil(length(text) / 16.0) AS BIGINT) - 1)) t(i) "
    "WHERE i % 4 = 0",
    "Multimodal frame sampling: variable fan-out mapInPandas (one input row "
    "-> many frame rows), every 4th 16-byte 'frame' kept — the video "
    "frame-sampling shape with an injected deterministic splitter.",
)
def q_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    from .operators import multimodal as MM

    media = MM.media_from_documents(table(spark, sf, "documents"))

    def split(payload: bytes, meta: dict) -> list[bytes]:
        return [payload[i:i + 16] for i in range(0, len(payload), 16)]

    frames = MM.frame_sample(media, every_n=4, decode_fn=split)
    return frames.select("media_id", "frame_no",
                         F.length("frame").cast("bigint").alias("frame_len"))


# ---------------------------------------------------------------------------
# Analytics depth: classic multi-join aggregation shapes (TPC-H Q3/Q5) —
# the join-reorder / broadcast / partial-agg patterns a 100 TB warehouse
# lives on, exercised end-to-end through Catalyst.


@query(
    "tpch_q3",
    "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "o_orderdate FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY l_orderkey, o_orderdate "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    "Shipping-priority query (TPC-H Q3 shape): selective dimension filter "
    "broadcast into the fact join, partial-agg before the final top-10 "
    "(deterministic tie-break on l_orderkey).",
)
def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    cust = (table(spark, sf, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    orders = (table(spark, sf, "orders")
              .filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (table(spark, sf, "lineitem")
          .filter(F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01")))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    # only the filtered customer dim is hint-broadcast; orders is fact-sized
    # at real SFs, so its join strategy is left to AQE (broadcast at test
    # scale, sort-merge at warehouse scale)
    return (li.join(orders.join(F.broadcast(cust),
                                F.col("o_custkey") == F.col("c_custkey")),
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy("l_orderkey", "o_orderdate")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"))
              .select("l_orderkey", "revenue", "o_orderdate")
              .orderBy(F.col("revenue").desc(), "l_orderkey").limit(10))


@query(
    "tpch_q5",
    "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "GROUP BY n_name",
    "Local-supplier-volume query (TPC-H Q5 shape): five-way join with the "
    "region/nation/supplier/customer dims broadcast, revenue aggregated per "
    "nation; the customer-nation = supplier-nation predicate rides the join.",
)
def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    orders = (table(spark, sf, "orders")
              .filter((F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
                      & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))))
              .select("o_orderkey", "o_custkey"))
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = (table(spark, sf, "region")
           .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    # broadcast hints only on true dimensions (supplier/nation/region);
    # orders and customer are fact-scale at real SFs — AQE picks their
    # strategy per run
    return (li
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(supp), (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue")))


@query(
    "top_articles_windowed",
    "SELECT p_brand, window_start, p_partkey, n, CAST(rnk AS BIGINT) AS rnk FROM ("
    " SELECT p_brand, window_start, p_partkey, n,"
    "  row_number() OVER (PARTITION BY p_brand, window_start"
    "                     ORDER BY n DESC, p_partkey) AS rnk"
    " FROM (SELECT p.p_brand, date_trunc('month', l.l_shipdate) AS window_start,"
    "              p.p_partkey, count(*) AS n"
    "       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey"
    "       GROUP BY 1, 2, 3)) "
    "WHERE rnk <= 3",
    "A9+W1 TopArticles: top-N per (industry, time window) "
    "(TopArticlesLambdaExample.java:163-250 — top-100 articles per industry "
    "per 1h window via PriorityQueue; here top-3 parts per brand per month). "
    "Rank-window over the windowed count; WindowGroupLimit caps each "
    "(brand, window) group to N rows map-side before the shuffle.",
)
def q_top_articles(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_partkey", "l_shipdate")
    part = table(spark, sf, "part").select("p_partkey", "p_brand")
    base = (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .groupBy("p_brand",
                       F.date_trunc("month", F.col("l_shipdate")).alias("window_start"),
                       "p_partkey")
              .agg(F.count("*").alias("n")))
    out = TK.top_k_per_group(base, ["p_brand", "window_start"],
                             [F.col("n").desc(), F.col("p_partkey")], k=3)
    return out.select("p_brand", "window_start", "p_partkey", "n",
                      F.col("rnk").cast("bigint").alias("rnk"))


@query(
    "daily_1800_nyc",
    "SELECT date_trunc('day', nyts - INTERVAL 18 HOUR) + INTERVAL 18 HOUR AS window_start, "
    "count(*) AS n, round(sum(value), 2) AS total FROM ("
    " SELECT timezone('America/New_York', timezone('UTC', ts)) AS nyts, value"
    " FROM events) GROUP BY 1",
    "W6 DST-aware custom calendar window (window/DailyTimeWindows.java:42-63 "
    "— daily windows starting 18:00 in a named zone, with the DST caveats "
    "the reference documents): event instants converted to America/New_York "
    "wall clock, bucketed at 18:00 local. The 1995-2001 fixture spans the "
    "pre-2007 US DST rules, so both engines' IANA histories are exercised. "
    "window_start is reported in local wall time (the reference's contract: "
    "windows are defined on the local clock).",
)
def q_daily_1800_nyc(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    nyts = F.from_utc_timestamp("ts", "America/New_York")
    start = (F.date_trunc("day", nyts - F.expr("INTERVAL 18 HOURS"))
             + F.expr("INTERVAL 18 HOURS"))
    return (ev.groupBy(start.alias("window_start"))
              .agg(F.count("*").alias("n"),
                   F.round(F.sum("value"), 2).alias("total")))


@query(
    "cube_sales",
    "SELECT coalesce(o_orderstatus, '__ALL__') AS status, "
    "coalesce(o_orderpriority, '__ALL__') AS priority, "
    "CAST(count(*) AS BIGINT) AS n_orders, round(sum(o_totalprice), 2) AS revenue "
    "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)",
    "Bonus (SURVEY §2.4): full CUBE over (status, priority) — all four "
    "grouping sets in one pass with partial-agg merge; complements "
    "rollup_sales.",
)
def q_cube_sales(spark: SparkSession, sf: str) -> DataFrame:
    orders = table(spark, sf, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
                  .agg(F.count("*").cast("bigint").alias("n_orders"),
                       F.round(F.sum("o_totalprice"), 2).alias("revenue"))
                  .select(F.coalesce("o_orderstatus", F.lit("__ALL__")).alias("status"),
                          F.coalesce("o_orderpriority", F.lit("__ALL__")).alias("priority"),
                          "n_orders", "revenue"))


@query(
    "tpch_q10",
    "SELECT c_custkey, c_name, n_name, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
    "Returned-item customer ranking (TPC-H Q10 shape): selective fact "
    "filters pushed to both scans, customer/nation dims broadcast, top-20 "
    "via TakeOrderedAndProject (no global sort materialization).",
)
def q_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = (table(spark, sf, "orders")
              .filter((F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
                      & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01"))))
              .select("o_orderkey", "o_custkey"))
    li = (table(spark, sf, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    nat = table(spark, sf, "nation").select("n_nationkey", "n_name")
    # nation is the only true dim; orders/customer join strategy is AQE's
    # call (broadcast at test scale, sort-merge at warehouse scale)
    return (li
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey").limit(20))


@query(
    "tpch_q4",
    "SELECT o_orderpriority, count(*) AS order_count FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "            AND l_returnflag = 'R') "
    "GROUP BY o_orderpriority",
    "Order-priority checking (TPC-H Q4 shape, EXISTS adapted to the "
    "returned-flag predicate since the fixture has no commit/receipt "
    "dates): LEFT SEMI join — the probe side never duplicates orders, so "
    "the count is per-order regardless of how many lineitems match. The "
    "semi join builds on the FILTERED lineitem side and both filters are "
    "pushed to the scans.",
)
def q_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    orders = (table(spark, sf, "orders")
              .filter((F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
                      & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01"))))
              .select("o_orderkey", "o_orderpriority"))
    returned = (table(spark, sf, "lineitem")
                .filter(F.col("l_returnflag") == "R").select("l_orderkey"))
    return (orders.join(returned, F.col("o_orderkey") == F.col("l_orderkey"),
                        "left_semi")
                  .groupBy("o_orderpriority")
                  .agg(F.count("*").alias("order_count")))


@query(
    "tpch_q6",
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, "
    "count(*) AS n FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
    "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
    "Forecasting-revenue-change (TPC-H Q6): the pure scan-bound shape — "
    "every predicate pushes to the parquet scan (PushedFilters carries all "
    "four), no joins, one partial+final agg. At 100 TB this is the query "
    "that proves filter pushdown + column pruning: only 4 of 11 lineitem "
    "columns are read.",
)
def q_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
                      & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
                      & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
              .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                    .alias("revenue"),
                   F.count("*").alias("n")))


@query(
    "tpch_q7",
    "SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM ("
    " SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,"
    "        year(l_shipdate) AS l_year,"
    "        l_extendedprice * (1 - l_discount) AS volume"
    " FROM supplier JOIN lineitem ON s_suppkey = l_suppkey"
    " JOIN orders ON o_orderkey = l_orderkey"
    " JOIN customer ON c_custkey = o_custkey"
    " JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    " JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    " WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')"
    "     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))"
    "   AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"
    ") GROUP BY supp_nation, cust_nation, l_year",
    "Volume-shipping (TPC-H Q7 shape): bidirectional nation-pair flows. The "
    "same `nation` dim enters the join twice under different aliases (n1 via "
    "supplier, n2 via customer) — both broadcast; the disjunctive pair "
    "predicate rides the joined row, and the year() bucketing (cast to long "
    "per the registry's counts-to-long convention) groups the result. Only "
    "the bounded nation dims carry broadcast hints; supplier scales with SF, "
    "so its strategy — like lineitem/orders/customer — is AQE's call.",
)
def q_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
                  & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01"))))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    orders = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"),
                    F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (li
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust, F.col("o_custkey") == F.col("c_custkey"))
            .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue")))


@query(
    "tpch_q14",
    "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
    "/ sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'",
    "Promotion-effect (TPC-H Q14): conditional aggregation over a broadcast "
    "part join — one pass computes both the PROMO numerator and the total "
    "denominator (no self-join, no second scan); the month filter is pushed "
    "to the lineitem scan.",
)
def q_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
                  & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01"))))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    part = table(spark, sf, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .agg(F.round(100.0 * F.sum(F.when(F.col("p_type") == "PROMO", disc)
                                          .otherwise(0.0))
                           / F.sum(disc), 4).alias("promo_revenue")))


@query(
    "tpch_q18",
    "SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, "
    "round(sum(l_quantity), 2) AS total_qty "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
    "                     GROUP BY l_orderkey HAVING sum(l_quantity) > 200) "
    "GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "Large-volume-customer (TPC-H Q18): the HAVING-subquery shape. The "
    "qualifying-order set is computed once by a partial-agg-combined "
    "groupBy and applied as a LEFT SEMI join BEFORE the wide 3-way join, "
    "so only qualifying orders' lineitems ever join customer. Top-20 via "
    "TakeOrderedAndProject.",
)
def q_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
             .filter(F.col("q") > 200).select("l_orderkey"))
    orders = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = table(spark, sf, "customer").select("c_custkey", "c_name")
    qualifying = orders.join(
        big.withColumnRenamed("l_orderkey", "bk"),
        F.col("o_orderkey") == F.col("bk"), "left_semi")
    return (li.join(qualifying, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                       "o_totalprice")
              .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
              .orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(20))


@query(
    "tpch_q19",
    "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "count(*) AS n FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
    "       AND l_quantity BETWEEN 1 AND 15) "
    "   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 "
    "       AND l_quantity BETWEEN 10 AND 25) "
    "   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 "
    "       AND l_quantity BETWEEN 20 AND 35)",
    "Discounted-revenue (TPC-H Q19 shape, adapted to the fixture's brand/"
    "size columns): disjunctive mixed-side predicates. Catalyst extracts "
    "the common l_quantity bounds [1,35] and pushes them to the lineitem "
    "scan while the full OR-of-ANDs evaluates post-join on the broadcast "
    "part row — the classic CNF-extraction test query.",
)
def q_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (((F.col("p_brand") == "Brand#12") & sz.between(1, 15) & q.between(1, 15))
            | ((F.col("p_brand") == "Brand#23") & sz.between(1, 25) & q.between(10, 25))
            | ((F.col("p_brand") == "Brand#3") & sz.between(1, 35) & q.between(20, 35)))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .filter(cond)
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"),
                   F.count("*").alias("n")))


@query(
    "tpch_q2",
    "WITH eu AS ("
    " SELECT l_partkey, l_extendedprice, s_acctbal, s_name, n_name"
    " FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'EUROPE') "
    "SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, "
    "round(min_price, 2) AS min_price "
    "FROM eu JOIN (SELECT l_partkey AS mk, min(l_extendedprice) AS min_price"
    "              FROM eu GROUP BY 1) m"
    "  ON eu.l_partkey = m.mk AND eu.l_extendedprice = m.min_price "
    "JOIN part ON p_partkey = eu.l_partkey "
    "WHERE p_size BETWEEN 10 AND 40 "
    "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100",
    "Minimum-cost-supplier (TPC-H Q2 shape, adapted: the fixture has no "
    "partsupp, so the correlated MIN runs over lineitem prices restricted "
    "to EUROPE suppliers — the same correlated-subquery-over-a-filtered-"
    "domain structure as Q2's min(ps_supplycost)). The region restriction "
    "is applied BEFORE the per-part MIN (one shared scan feeds both the "
    "aggregate and the probe side), the min table joins back on "
    "(partkey, exact price) — min is order-independent, so exact float "
    "equality is engine-stable — and part is unhinted so AQE picks its "
    "strategy (part scales with SF; cf. ADVICE r3 on supplier). "
    "Deterministic top-100: every ORDER BY tie is broken by p_partkey and "
    "min_price is functionally dependent on it.",
)
def q_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    supp = table(spark, sf, "supplier").select(
        "s_suppkey", "s_nationkey", "s_name", "s_acctbal")
    nat = table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    reg = (table(spark, sf, "region")
           .filter(F.col("r_name") == "EUROPE").select("r_regionkey"))
    part = (table(spark, sf, "part")
            .filter(F.col("p_size").between(10, 40)).select("p_partkey"))
    eu = (li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("l_partkey", "l_extendedprice", "s_acctbal", "s_name", "n_name"))
    # correlated MIN as a window over the SAME partition: one shuffle on
    # l_partkey and a single pass over eu, instead of a groupBy + self
    # equi-join (which scans eu twice and sort-merges it against itself)
    w = Window.partitionBy("l_partkey")
    return (eu.withColumn("min_price", F.min("l_extendedprice").over(w))
              .filter(F.col("l_extendedprice") == F.col("min_price"))
              .join(part, F.col("l_partkey") == F.col("p_partkey"))
              .select("s_acctbal", "s_name", "n_name", "p_partkey",
                      F.round("min_price", 2).alias("min_price"))
              .distinct()
              .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
              .limit(100))


@query(
    "tpch_q13",
    "SELECT c_count, count(*) AS custdist FROM ("
    " SELECT c_custkey, count(o_orderkey) AS c_count"
    " FROM customer LEFT JOIN orders"
    "   ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'"
    " GROUP BY c_custkey) GROUP BY c_count",
    "Customer-distribution (TPC-H Q13): LEFT OUTER join with a join-side "
    "predicate (the filter belongs ON the join, not WHERE — customers with "
    "only urgent orders must still count as 0), count(o_orderkey) counts "
    "matches only, then a second small aggregation over the distribution. "
    "The outer join shuffles on custkey once; the c_count histogram is "
    "tiny and partial-agg-combined.",
)
def q_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    cust = table(spark, sf, "customer").select("c_custkey")
    orders = table(spark, sf, "orders").select("o_custkey", "o_orderkey",
                                               "o_orderpriority")
    per_cust = (cust.join(orders,
                          (F.col("c_custkey") == F.col("o_custkey"))
                          & (F.col("o_orderpriority") != "1-URGENT"),
                          "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
                    .agg(F.count("*").alias("custdist")))


@query(
    "tpch_q15",
    "WITH revenue AS ("
    " SELECT l_suppkey AS supplier_no,"
    "        round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue"
    " FROM lineitem"
    " WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'"
    " GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, total_revenue "
    "FROM supplier JOIN revenue ON s_suppkey = supplier_no "
    "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)",
    "Top-supplier (TPC-H Q15): the view + scalar-max shape. The quarterly "
    "revenue aggregate is computed once; its 1-row MAX broadcasts back "
    "against it (BroadcastNestedLoop over one row, not a re-scan), and "
    "only the surviving supplier row(s) join the supplier dim. Revenue is "
    "rounded to 2dp BEFORE the max/equality so float-sum ordering "
    "differences between engines cannot split the maximum.",
)
def q_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
                  & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01"))))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
             .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                   .alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("mx"))
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(top), F.col("total_revenue") == F.col("mx"))
               .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
               .select("s_suppkey", "s_name", "total_revenue"))


@query(
    "tpch_q21",
    "SELECT s_name, count(*) AS numwait FROM supplier "
    "JOIN lineitem l1 ON s_suppkey = l1.l_suppkey "
    "JOIN orders ON o_orderkey = l1.l_orderkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n_name = 'NATION_1' "
    "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey"
    "            AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey"
    "                AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') "
    "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20",
    "Suppliers-who-kept-orders-waiting (TPC-H Q21 shape, adapted: "
    "l_returnflag = 'R' stands in for receipt-after-commit since the "
    "fixture has no commit/receipt dates). The classic EXISTS + NOT EXISTS "
    "pair: LEFT SEMI on 'another supplier touched this order' and LEFT "
    "ANTI on 'another supplier also returned' — the one anti-join shape "
    "the registry lacked. Both correlated subqueries become same-key "
    "self-joins on l_orderkey with a non-equi suppkey guard, so all three "
    "lineitem passes shuffle on the same key and AQE can co-plan them; "
    "nation is the only broadcast hint. Top-20 via TakeOrderedAndProject.",
)
def q_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag")
    l1 = (li.filter(F.col("l_returnflag") == "R")
            .select(F.col("l_orderkey").alias("o1"), F.col("l_suppkey").alias("s1")))
    orders = (table(spark, sf, "orders")
              .filter(F.col("o_orderstatus") == "F").select("o_orderkey"))
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (li.filter(F.col("l_returnflag") == "R")
            .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")))
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = (table(spark, sf, "nation")
           .filter(F.col("n_name") == "NATION_1").select("n_nationkey"))
    cand = (l1.join(orders, F.col("o1") == F.col("o_orderkey"), "left_semi")
              .join(l2, (F.col("o1") == F.col("o2")) & (F.col("s1") != F.col("s2")),
                    "left_semi")
              .join(l3, (F.col("o1") == F.col("o3")) & (F.col("s1") != F.col("s3")),
                    "left_anti"))
    return (cand.join(supp, F.col("s1") == F.col("s_suppkey"))
                .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
                .groupBy("s_name")
                .agg(F.count("*").alias("numwait"))
                .orderBy(F.col("numwait").desc(), "s_name").limit(20))


@query(
    "tpch_q22",
    "WITH sel AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS cntrycode,"
    "                    c_acctbal"
    "             FROM customer WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)), "
    "cavg AS (SELECT round(avg(c_acctbal), 2) AS a FROM sel WHERE c_acctbal > 0.0) "
    "SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal "
    "FROM sel, cavg WHERE c_acctbal > a "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey"
    "                AND o_orderpriority = '1-URGENT') "
    "GROUP BY cntrycode",
    "Global-sales-opportunity (TPC-H Q22 shape, adapted: nationkey buckets "
    "stand in for phone-prefix country codes). Scalar-subquery average "
    "(computed once, broadcast as a 1-row cross join), threshold filter, "
    "then LEFT ANTI against urgent orders — 'customers who never placed an "
    "urgent order' (the fixture has no order-less customers at small SFs, "
    "so the unrestricted anti join would be a trivial 0-row check). The "
    "average is rounded to 2dp before the comparison so float-sum ordering "
    "cannot flip a boundary row. Orders is filtered and projected to "
    "o_custkey before the anti join.",
)
def q_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    sel = (table(spark, sf, "customer")
           .filter(F.col("c_nationkey").isin(1, 2, 3, 4, 5, 6, 7))
           .select("c_custkey",
                   F.col("c_nationkey").cast("bigint").alias("cntrycode"),
                   "c_acctbal"))
    cavg = (sel.filter(F.col("c_acctbal") > 0.0)
               .agg(F.round(F.avg("c_acctbal"), 2).alias("a")))
    orders = (table(spark, sf, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    return (sel.join(F.broadcast(cavg))
               .filter(F.col("c_acctbal") > F.col("a"))
               .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
               .groupBy("cntrycode")
               .agg(F.count("*").alias("numcust"),
                    F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


@query(
    "dedup_clusters_star",
    f"""WITH RECURSIVE {_LSH_CTES},
    pairs AS (SELECT d1, d2 FROM verified WHERE jac >= 0.2),
    sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
            UNION ALL SELECT d2, d1 FROM pairs),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.node)
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
    FROM walk GROUP BY node""",
    "dedup_clusters via the large-star/small-star edge rewrite "
    "(operators/dedup.py:connected_components_star; Kiveris et al. "
    "SoCC'14) instead of min-label propagation: O(log n) rounds "
    "regardless of component diameter — the variant a 100 TB graph with "
    "unknown diameter runs. Same recursive-CTE oracle as dedup_clusters, "
    "so the driver hash-verifies that both algorithms reach the identical "
    "fixpoint on the LSH pair graph.",
)
def q_dedup_clusters_star(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                jaccard_threshold=0.2)
    cc = D.connected_components(pairs, docs.select("doc_id"),
                                algorithm="star")
    return cc.select("doc_id",
                     F.col("cluster_id").cast("long").alias("cluster_id"))


@query(
    "doc_chunks",
    "WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws"
    "           FROM documents) "
    "SELECT doc_id, CAST(u.i / 48 AS BIGINT) AS chunk_id, "
    "array_to_string(list_slice(ws, u.i + 1, u.i + 64), ' ') AS chunk_text, "
    "CAST(least(64, len(ws) - u.i) AS BIGINT) AS n_chunk_tokens "
    "FROM t, unnest(generate_series(0, len(ws) - 1, 48)) u(i)",
    "Context-window chunking (operators/text.py:chunk_documents): every "
    "document fans out into 64-token chunks on a 48-token stride (16-token "
    "overlap) — the training-data step between cleaning and batching. "
    "Pure array expressions (sequence/posexplode/slice) at scan speed; "
    "output volume is a fixed ~4/3 multiple of input tokens, stateless at "
    "any scale.",
)
def q_doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    return TX.chunk_documents(table(spark, sf, "documents"),
                              chunk_tokens=64, stride=48)


@query(
    "bigram_novelty",
    "WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws"
    "           FROM documents), "
    "bg AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS b "
    "       FROM t, unnest(generate_series(1, len(ws) - 1)) u(i) "
    "       WHERE len(ws) >= 2), "
    "dfreq AS (SELECT b, count(DISTINCT doc_id) AS df FROM bg GROUP BY b), "
    "per AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
    "        CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton, "
    "        floor(avg(df) * 1e4 + 0.5) / 1e4 AS avg_df "
    "        FROM bg JOIN dfreq USING (b) GROUP BY bg.doc_id) "
    "SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams, "
    "coalesce(n_singleton, 0) AS n_singleton, coalesce(avg_df, 0.0) AS avg_df "
    "FROM documents d LEFT JOIN per USING (doc_id)",
    "Corpus-frequency novelty scoring (operators/text.py:bigram_doc_stats): "
    "per-document distinct bigrams, corpus-unique bigrams (df=1), and mean "
    "bigram document frequency (high = boilerplate) — the phrase-level "
    "quality/dedup signal next to TF-IDF. One tokenize scan feeds both the "
    "df table and the probe side; all arithmetic is rational so the oracle "
    "is exact.",
)
def q_bigram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    return TX.bigram_doc_stats(table(spark, sf, "documents"))


@query(
    "global_shuffle",
    "SELECT doc_id, CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos "
    "FROM (SELECT doc_id, CAST('0x' || substr(md5('s0|' || CAST(doc_id AS VARCHAR)), 1, 15)"
    "      AS BIGINT) AS h FROM documents)",
    "Deterministic dense corpus shuffle (operators/sampling.py:"
    "global_shuffle): reproducible training order = rank in (portable "
    "60-bit hash, key). The oracle is the naive single-window row_number; "
    "the engine computes the identical order via range-bucketed two-phase "
    "ranking (top hash bits -> contiguous buckets, per-bucket row_number "
    "+ broadcast cumulative offsets), so no single-partition global sort "
    "exists at 100 TB.",
)
def q_global_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    return SAMP.global_shuffle(table(spark, sf, "documents"), "doc_id")


@query(
    "tpch_q8",
    "SELECT o_year, round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume"
    "                              ELSE 0 END) / sum(volume), 4) AS mkt_share "
    "FROM (SELECT year(o_orderdate) AS o_year,"
    "             l_extendedprice * (1 - l_discount) AS volume,"
    "             n1.n_name AS supp_nation"
    "      FROM part JOIN lineitem ON p_partkey = l_partkey"
    "      JOIN orders ON l_orderkey = o_orderkey"
    "      JOIN customer ON o_custkey = c_custkey"
    "      JOIN supplier ON l_suppkey = s_suppkey"
    "      JOIN nation n1 ON s_nationkey = n1.n_nationkey"
    "      JOIN nation n2 ON c_nationkey = n2.n_nationkey"
    "      JOIN region ON n2.n_regionkey = r_regionkey"
    "      WHERE r_name = 'ASIA' AND p_type = 'PROMO') "
    "GROUP BY o_year",
    "National-market-share (TPC-H Q8 shape): the conditional-share "
    "aggregate — one pass computes the target nation's numerator and the "
    "all-nations denominator per year. nation enters twice (supplier side "
    "feeds the CASE, customer side feeds the region filter); only the "
    "bounded dims (nation x2, region, filtered part) are hint-broadcast, "
    "fact joins are AQE's call. o_year cast to long per convention.",
)
def q_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    part = (table(spark, sf, "part")
            .filter(F.col("p_type") == "PROMO").select("p_partkey"))
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    orders = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"),
                    F.col("n_regionkey").alias("n2_rkey"))
    reg = (table(spark, sf, "region")
           .filter(F.col("r_name") == "ASIA").select("r_regionkey"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
              .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
              .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
              .join(F.broadcast(reg), F.col("n2_rkey") == F.col("r_regionkey"))
              .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(F.round(
                  F.sum(F.when(F.col("supp_nation") == "NATION_1", vol)
                         .otherwise(0.0)) / F.sum(vol), 4).alias("mkt_share")))


@query(
    "tpch_q9",
    "SELECT n_name AS nation, o_year, round(sum(amount), 2) AS sum_profit "
    "FROM (SELECT n_name, year(o_orderdate) AS o_year,"
    "             l_extendedprice * (1 - l_discount)"
    "               - 0.1 * p_retailprice * l_quantity AS amount"
    "      FROM part JOIN lineitem ON p_partkey = l_partkey"
    "      JOIN supplier ON l_suppkey = s_suppkey"
    "      JOIN orders ON l_orderkey = o_orderkey"
    "      JOIN nation ON s_nationkey = n_nationkey"
    "      WHERE p_name LIKE '%red%') "
    "GROUP BY n_name, o_year",
    "Product-type-profit (TPC-H Q9 shape, adapted: the fixture has no "
    "partsupp, so supply cost is modeled as 10% of p_retailprice per "
    "unit). LIKE-filtered part dim broadcast into the fact join, profit "
    "expression evaluated row-wise pre-aggregation, grouped by supplier "
    "nation x order year — the classic profit-rollup plan.",
)
def q_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    part = (table(spark, sf, "part")
            .filter(F.col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice"))
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount")
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    nat = table(spark, sf, "nation").select("n_nationkey", "n_name")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.1 * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").cast("long").alias("o_year"))
              .agg(F.round(F.sum(amount), 2).alias("sum_profit")))


@query(
    "tpch_q11",
    "WITH pv AS (SELECT l_partkey, sum(l_extendedprice) AS val"
    "            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    "            JOIN nation ON s_nationkey = n_nationkey"
    "            WHERE n_name = 'NATION_2' GROUP BY l_partkey) "
    "SELECT l_partkey, round(val, 2) AS val FROM pv, "
    "(SELECT sum(val) AS total, count(*) AS np FROM pv) t "
    "WHERE val > 2.0 * total / np",
    "Important-stock identification (TPC-H Q11 shape, adapted to lineitem "
    "value since the fixture has no partsupp): per-part value within one "
    "nation's suppliers, kept only where it exceeds 2x the average "
    "per-part value — the group-vs-global-scalar HAVING shape with a "
    "scale-invariant threshold (a fixed fraction-of-total dilutes to 0 "
    "rows as the part count grows with SF). The (total, count) scalar is "
    "a 1-row re-aggregation of the same grouped result (computed once, "
    "broadcast), not a second scan.",
)
def q_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_partkey", "l_suppkey",
                                             "l_extendedprice")
    supp = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = (table(spark, sf, "nation")
           .filter(F.col("n_name") == "NATION_2").select("n_nationkey"))
    pv = (li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("l_partkey")
            .agg(F.sum("l_extendedprice").alias("val")))
    total = pv.agg(F.sum("val").alias("total"), F.count("*").alias("np"))
    return (pv.join(F.broadcast(total))
              .filter(F.col("val") > 2.0 * F.col("total") / F.col("np"))
              .select("l_partkey", F.round("val", 2).alias("val")))


@query(
    "tpch_q12",
    "SELECT l_linestatus, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " AS BIGINT) AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY l_linestatus",
    "Shipping-mode priority (TPC-H Q12 shape, l_linestatus standing in for "
    "the fixture's missing shipmode): the two-conditional-counts-in-one-"
    "pass aggregate; the year filter pushes to the lineitem scan and only "
    "(orderkey, linestatus) survive the projection into the join.",
)
def q_tpch_q12(spark: SparkSession, sf: str) -> DataFrame:
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
                  & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01"))))
          .select("l_orderkey", "l_linestatus"))
    orders = table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy("l_linestatus")
              .agg(F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
                   F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count")))


@query(
    "tpch_q16",
    "SELECT p_brand, p_type, p_size, "
    "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_brand <> 'Brand#9' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) "
    "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY p_brand, p_type, p_size",
    "Parts-supplier-relationship (TPC-H Q16 shape, adapted: negative "
    "account balance stands in for the complaints LIKE filter): the "
    "NOT IN exclusion becomes a LEFT ANTI join against the (tiny, "
    "broadcast) excluded-supplier set BEFORE the count-distinct "
    "aggregation, so excluded suppliers never enter the shuffle.",
)
def q_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = (table(spark, sf, "part")
            .filter((F.col("p_brand") != "Brand#9")
                    & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad = (table(spark, sf, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
                    "left_anti")
              .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .groupBy("p_brand", "p_type", "p_size")
              .agg(F.count_distinct("l_suppkey").cast("bigint")
                    .alias("supplier_cnt")))


@query(
    "tpch_q17",
    "SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "JOIN (SELECT l_partkey AS ak, 0.2 * avg(l_quantity) AS threshold"
    "      FROM lineitem GROUP BY l_partkey) a ON p_partkey = ak "
    "WHERE p_brand = 'Brand#3' AND l_quantity < threshold",
    "Small-quantity-order revenue (TPC-H Q17): the correlated per-group "
    "scalar — each lineitem compares against 0.2x the average quantity OF "
    "ITS PART. The broadcast brand filter restricts lineitem FIRST (the "
    "avg over a part's lineitems is unchanged by restricting to that "
    "part's rows), then the per-part average is a window over the "
    "already-partitioned rows: one shuffle of ~p_brand-selectivity of the "
    "fact, no unfiltered full-fact aggregate, no second join.",
)
def q_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    li = table(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    part = (table(spark, sf, "part")
            .filter(F.col("p_brand") == "Brand#3").select("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .withColumn("threshold", 0.2 * F.avg("l_quantity").over(w))
              .filter(F.col("l_quantity") < F.col("threshold"))
              .agg(F.round(F.sum("l_extendedprice") / 7.0, 2)
                    .alias("avg_yearly")))


@query(
    "tpch_q20",
    "SELECT s_name, s_acctbal FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_name = 'NATION_3' "
    "AND s_suppkey IN ("
    " SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey"
    " WHERE p_type = 'PROMO'"
    "   AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"
    " GROUP BY l_suppkey HAVING sum(l_quantity) > 100) "
    "ORDER BY s_name",
    "Potential-part-promotion (TPC-H Q20 shape, adapted: shipped PROMO "
    "quantity stands in for the partsupp availability check): the nested "
    "semi-join chain — an aggregated HAVING subquery feeds a LEFT SEMI "
    "into the nation-filtered supplier dim. The quantity aggregation runs "
    "over the FILTERED lineitem scan (both pushed filters), and only "
    "qualifying suppkeys reach the semi join.",
)
def q_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    li = (table(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
                  & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01"))))
          .select("l_partkey", "l_suppkey", "l_quantity"))
    part = (table(spark, sf, "part")
            .filter(F.col("p_type") == "PROMO").select("p_partkey"))
    qualifying = (li.join(F.broadcast(part),
                          F.col("l_partkey") == F.col("p_partkey"))
                    .groupBy("l_suppkey")
                    .agg(F.sum("l_quantity").alias("q"))
                    .filter(F.col("q") > 100).select("l_suppkey"))
    supp = table(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    nat = (table(spark, sf, "nation")
           .filter(F.col("n_name") == "NATION_3").select("n_nationkey"))
    return (supp.join(F.broadcast(nat),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"),
                      "left_semi")
                .select("s_name", "s_acctbal")
                .orderBy("s_name"))


@query(
    "quality_deciles",
    """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS ws,
                  text FROM documents),
    m AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
           len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is'))) AS sw,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS nonal,
           length(text) AS chars FROM t),
    q AS (SELECT doc_id, lang,
           floor((least(n_tokens / 100.0, 1.0) * 0.4 + (CAST(sw AS DOUBLE) / n_tokens) * 0.3
                 + (1.0 - CAST(nonal AS DOUBLE) / chars) * 0.3) * 10000 + 0.5) / 10000 AS quality
          FROM m)
    SELECT doc_id, lang, quality,
           CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS BIGINT)
             AS decile
    FROM q""",
    "Quality decile bucketing: every document gets its within-language "
    "decile (1 = worst, 10 = best) by the shared quality score — the "
    "curriculum/mixing knob real pipelines sort corpora by. ntile over a "
    "(quality, doc_id) total order is deterministic and engine-portable; "
    "one window shuffle per language partition.",
)
def q_quality_deciles(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "text", "lang")
    q = TX.with_quality(docs).select("doc_id", "lang", "quality")
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    return q.withColumn("decile", F.ntile(10).over(w).cast("bigint"))


@query(
    "curriculum_order",
    """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS ws,
                  text FROM documents),
    m AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tokens,
           len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is'))) AS sw,
           length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS nonal,
           length(text) AS chars FROM t),
    q AS (SELECT doc_id, lang,
           floor((least(n_tokens / 100.0, 1.0) * 0.4 + (CAST(sw AS DOUBLE) / n_tokens) * 0.3
                 + (1.0 - CAST(nonal AS DOUBLE) / chars) * 0.3) * 10000 + 0.5) / 10000 AS quality
          FROM m),
    dec AS (SELECT doc_id,
             CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id)
                  AS BIGINT) AS decile
            FROM q),
    hh AS (SELECT doc_id, decile,
            CAST('0x' || substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS h
           FROM dec)
    SELECT doc_id, decile,
           CAST(row_number() OVER (ORDER BY 10 - decile, h, doc_id) AS BIGINT)
             AS pos
    FROM hh""",
    "Curriculum training order — the dataloader sequence curriculum "
    "learning actually feeds: best within-language quality decile first "
    "(easy-to-clean-first is the common corpus curriculum), documents "
    "SHUFFLED deterministically inside each stage so no source/id "
    "ordering leaks into training. pos = dense rank in (stage, "
    "hash(seed|id), id) via sampling.staged_order — global_shuffle's "
    "range-bucketed two-phase rank with the stage prepended to the "
    "bucket id, so bucket-major order IS curriculum order and no "
    "single-partition global sort exists at 100 TB. Oracle: the "
    "quality-decile CTEs + the naive single-window row_number over the "
    "same (10 - decile, hash, id) key.",
)
def q_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents").select("doc_id", "text", "lang")
    q = TX.with_quality(docs).select("doc_id", "lang", "quality")
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    d = (q.withColumn("decile", F.ntile(10).over(w))
          .select("doc_id", (F.lit(10) - F.col("decile")).alias("stage")))
    out = SAMP.staged_order(d, "stage", "doc_id", seed="cur")
    return out.select("doc_id",
                      (F.lit(10) - F.col("stage")).cast("long").alias("decile"),
                      "pos")


@query(
    "funnel_conversion",
    "WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events"
    "           WHERE event_type = 'signup' GROUP BY user_id), "
    "p AS (SELECT e.user_id FROM events e JOIN s USING (user_id)"
    "      WHERE e.event_type = 'purchase' AND e.ts > s.s_ts"
    "        AND e.ts <= s.s_ts + INTERVAL 7 DAY"
    "      GROUP BY e.user_id) "
    "SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup, "
    "CAST((SELECT count(*) FROM p) AS BIGINT) AS n_converted",
    "Funnel conversion (sequence matching over an event stream): users "
    "whose first signup is followed by a purchase within 7 days. The "
    "signup anchor is one groupBy-min; purchases left-join the anchor and "
    "a per-user MAX(converted-flag) + one global conditional aggregate "
    "produce both counts in a single pass — no scalar-count cross join, "
    "and the anchor/probe/re-group all share the user_id partitioning.",
)
def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select("user_id", "event_type", "ts")
    s = (ev.filter(F.col("event_type") == "signup")
           .groupBy("user_id").agg(F.min("ts").alias("s_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", F.col("ts").alias("p_ts")))
    conv = ((F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAYS")))
    per_user = (s.join(p, "user_id", "left")
                  .groupBy("user_id")
                  .agg(F.max(F.when(conv, 1).otherwise(0)).alias("converted")))
    return per_user.agg(F.count("*").cast("bigint").alias("n_signup"),
                        F.sum("converted").cast("bigint").alias("n_converted"))


@query(
    "retention_cohorts",
    "WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort"
    "           FROM events GROUP BY user_id), "
    "act AS (SELECT DISTINCT e.user_id, f.cohort,"
    "        CAST(date_diff('day', f.cohort, date_trunc('week', e.ts)) / 7 AS BIGINT)"
    "          AS wk"
    "        FROM events e JOIN f USING (user_id)) "
    "SELECT cohort, wk, CAST(count(*) AS BIGINT) AS users "
    "FROM act GROUP BY cohort, wk",
    "Weekly cohort retention: users bucketed by the week of their first "
    "event, activity counted per (cohort, weeks-since-cohort) — the "
    "retention-matrix shape every product warehouse computes. Week "
    "arithmetic stays in exact day integers (both engines truncate weeks "
    "to Monday), the first-event anchor is one groupBy-min joined back, "
    "and the distinct collapses repeat activity before the count.",
)
def q_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").select("user_id", "ts")
    f = (ev.groupBy("user_id")
           .agg(F.date_trunc("week", F.min("ts")).alias("cohort")))
    act = (ev.join(f, "user_id")
             .select("user_id", "cohort",
                     (F.datediff(F.date_trunc("week", F.col("ts")),
                                 F.col("cohort")) / 7)
                     .cast("bigint").alias("wk"))
             .distinct())
    return act.groupBy("cohort", "wk").agg(F.count("*").cast("bigint").alias("users"))


# ---------------------------------------------------------------------------
# tokenizer training (BPE) + data mixing


def _bpe_ctes(iters: int) -> str:
    """BPE training unrolled as CTE triples (pairs p{i} / winner b{i} /
    merged vocab v{i+1}) — the `_kmeans_ctes` pattern. Identical merge
    contract to operators/bpe.py: space-joined segmentation, two-pass
    non-overlapping literal replace on the padded string, ties to the
    lexicographically smallest pair."""
    parts = [
        "w AS (SELECT word, count(*) AS cnt FROM "
        f"({SQL_TOKENS}) WHERE word <> '' GROUP BY word)",
        r"v0 AS (SELECT word, trim(regexp_replace(word, '(.)', '\1 ', 'g'))"
        " AS seq, cnt FROM w)",
    ]
    for i in range(iters):
        parts.append(
            f"p{i} AS (SELECT arr[j] AS lhs, arr[j+1] AS rhs, "
            f"CAST(sum(cnt) AS BIGINT) AS cnt "
            f"FROM (SELECT string_split(seq, ' ') AS arr, cnt FROM v{i}), "
            f"unnest(generate_series(1, len(arr) - 1)) AS t(j) "
            f"GROUP BY 1, 2)")
        parts.append(
            f"b{i} AS (SELECT lhs, rhs, cnt FROM p{i} "
            f"ORDER BY cnt DESC, lhs, rhs LIMIT 1)")
        parts.append(
            f"v{i + 1} AS (SELECT v.word, "
            f"CASE WHEN b.lhs IS NULL THEN v.seq ELSE trim(replace(replace("
            f"' ' || v.seq || ' ', "
            f"' ' || b.lhs || ' ' || b.rhs || ' ', ' ' || b.lhs || b.rhs || ' '), "
            f"' ' || b.lhs || ' ' || b.rhs || ' ', ' ' || b.lhs || b.rhs || ' ')) "
            f"END AS seq, v.cnt FROM v{i} v LEFT JOIN b{i} b ON TRUE)")
    return ",\n    ".join(parts)


def _bpe_train_sql(iters: int) -> str:
    rows = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS merge_rank, lhs, rhs, "
        f"lhs || rhs AS merged, cnt FROM b{i}" for i in range(iters))
    return f"WITH {_bpe_ctes(iters)} SELECT * FROM ({rows})"


@query(
    "bpe_train",
    _bpe_train_sql(6),
    "BPE merge training (Sennrich ACL'16, word-boundary-restricted): six "
    "most-frequent adjacent-symbol merges over the corpus word-frequency "
    "table — the tokenizer-training half of an LLM data pipeline. The "
    "corpus is read ONCE into the vocabulary aggregate; every iteration "
    "then touches only that table (orders smaller than the corpus at "
    "100 TB), the winning pair stays a 1-row broadcast (no driver "
    "collect), and each iteration's vocab is lazily localCheckpoint'ed — "
    "one job per merge, the CC-loop pattern. Merge application is the "
    "two-pass non-overlapping literal replace, identical on both engines "
    "by construction (operators/bpe.py module docstring).",
)
def q_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    return BPE.bpe_train(table(spark, sf, "documents"), merges=6)


@query(
    "bpe_fertility",
    f"""WITH {_bpe_ctes(6)},
    gw AS (SELECT source AS grp, word, count(*) AS c
           FROM (SELECT source, unnest(regexp_split_to_array(lower(text),
                 '\\s+')) AS word FROM documents)
           WHERE word <> '' GROUP BY 1, 2)
    SELECT grp AS source, CAST(sum(c) AS BIGINT) AS n_words,
           CAST(sum(c * len(string_split(v.seq, ' '))) AS BIGINT) AS n_symbols,
           floor(CAST(sum(c * len(string_split(v.seq, ' '))) AS DOUBLE)
                 / CAST(sum(c) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS fertility
    FROM gw JOIN v6 v USING (word) GROUP BY grp""",
    "Tokenizer fertility (symbols/word) per source after the six learned "
    "merges — trainer composed with a per-(source, word) count and a "
    "vocabulary join in ONE plan; only (source, word, cnt) triples "
    "shuffle. The standard per-domain tokenizer-quality diagnostic: a "
    "vocabulary that compresses one domain but not another shows up "
    "here first. Division is exact-integer doubles through "
    "stable_round(4).",
)
def q_bpe_fertility(spark: SparkSession, sf: str) -> DataFrame:
    return BPE.bpe_fertility(table(spark, sf, "documents"), merges=6)


_BPE_ENCODE_SQL = f"""WITH {_bpe_ctes(6)},
    syms AS (SELECT DISTINCT unnest(string_split(seq, ' ')) AS sym FROM v6),
    ids AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS INTEGER)
              AS sym_id FROM syms),
    dt AS (SELECT doc_id, regexp_split_to_array(lower(coalesce(text, '')),
             '\\s+') AS arr FROM documents),
    dw AS (SELECT doc_id, j, arr[j] AS word
           FROM dt, unnest(generate_series(1, len(arr))) AS t(j)
           WHERE arr[j] <> ''),
    seg AS (SELECT d.doc_id, d.j, string_split(v.seq, ' ') AS ss
            FROM dw d JOIN v6 v ON v.word = d.word),
    tok AS (SELECT doc_id, j, k, ss[k] AS sym
            FROM seg, unnest(generate_series(1, len(ss))) AS t(k)),
    wt AS (SELECT t.doc_id, t.j, t.k, i.sym_id FROM tok t JOIN ids i USING (sym)),
    agg AS (SELECT doc_id,
              CAST(count(DISTINCT j) AS BIGINT) AS n_words,
              CAST(count(*) AS BIGINT) AS n_tokens,
              string_agg(CAST(sym_id AS VARCHAR), ',' ORDER BY j, k)
                AS token_ids
            FROM wt GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.token_ids, '') AS token_ids
    FROM documents d LEFT JOIN agg a USING (doc_id)"""


@query(
    "bpe_encode",
    _BPE_ENCODE_SQL,
    "Corpus-wide tokenization with the learned BPE merges — the "
    "production step between tokenizer training (bpe_train) and "
    "pack_sequences/token_count, which until now counted whitespace "
    "tokens. Per document: (n_words, n_tokens, token_ids) where "
    "token_ids is the comma-joined dense-id sequence (the downstream "
    "consumer keeps the int array this stringifies). Encoding is ONE "
    "corpus scan, zero corpus shuffles: the K-row merge table folds "
    "into a 1-row broadcast array applied in training order by a "
    "codegen'd F.aggregate of the trainer's own two-pass replace "
    "(operators/bpe.py merge contract — each word's in-document "
    "segmentation is bit-identical to its bpe_vocab row), and symbols "
    "map to ids through a broadcast symbol->id map (dense "
    "lexicographic rank over the vocabulary-scale symbol set). The "
    "oracle replicates it relationally: per-word segmentation joined "
    "from the trained v6 vocabulary — equivalent BY the merge "
    "contract, so the parity check is also an encode-vs-train "
    "consistency proof.",
)
def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    return BPE.bpe_encode(table(spark, sf, "documents"), merges=6)


@query(
    "bpe_encode_join",
    _BPE_ENCODE_SQL,
    "bpe_encode's open-vocabulary scale path: the same trained codec "
    "applied through the word-memoized TABLE form — every distinct "
    "corpus word segmented once (operators/bpe.py:bpe_word_table), "
    "then ONE hash-partitioned equi-join of the posexploded token "
    "column against that table (shuffle_hash hinted so Catalyst can "
    "never broadcast the unbounded side) and a doc-keyed ordered "
    "reassembly (encode_with_word_table, the line_dedup join shape). "
    "At web scale the distinct-'word' table (typos, URLs, ids) is not "
    "zipf-small and outgrows any broadcast budget; this path keeps it "
    "a table end-to-end. Output byte-identical to bpe_encode "
    "(crossover-tested; same oracle), strategy='auto' measures and "
    "picks (WORD_BROADCAST_LIMIT).",
)
def q_bpe_encode_join(spark: SparkSession, sf: str) -> DataFrame:
    return BPE.bpe_encode(table(spark, sf, "documents"), merges=6,
                          strategy="join")


@query(
    "pack_sequences_bpe",
    f"""WITH {_bpe_ctes(6)},
    dw AS (SELECT doc_id, word FROM ({SQL_TOKENS}) WHERE word <> ''),
    t AS (SELECT d.doc_id,
            CAST(sum(len(string_split(v.seq, ' '))) AS BIGINT) AS n
          FROM dw d JOIN v6 v USING (word) GROUP BY d.doc_id),
    p AS (SELECT doc_id, n,
            CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS BIGINT) AS s
          FROM t),
    e AS (SELECT doc_id, n, s, j AS seq_id
          FROM p, unnest(generate_series(s // 256, (s + n - 1) // 256)) AS u(j)
          WHERE n > 0)
    SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(s, seq_id * 256) - seq_id * 256 AS BIGINT) AS seq_off,
           CAST(greatest(s, seq_id * 256) - s AS BIGINT) AS tok_from,
           CAST(least(s + n, (seq_id + 1) * 256) - s AS BIGINT) AS tok_to
    FROM e""",
    "Training-sequence packing over the LEARNED tokenizer's counts — "
    "what the dataloader actually packs: bpe_encode's per-doc n_tokens "
    "(symbols after the six trained merges) feed the same range-bucketed "
    "two-phase prefix sum as pack_sequences (operators/text.py "
    "pack_counts — the packer core is tokenizer-agnostic). Catalyst "
    "prunes the encoder's unused token_ids column, so the count costs "
    "only the scan-side merge-fold expressions. Oracle derives the same "
    "counts relationally (per-word v6 segmentation lengths summed per "
    "doc) and reuses pack_sequences' window arithmetic verbatim.",
)
def q_pack_sequences_bpe(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    enc = BPE.bpe_encode(docs, merges=6).select("doc_id", "n_tokens")
    return TX.pack_counts(enc, budget=256)


def _unigram_viterbi_ctes(t: str, pieces_cte: str, max_len: int) -> str:
    """One Viterbi round as recursive CTEs — mirrors
    operators/unigram.py's DP contract exactly: probability-space
    dist[m] = max over piece lengths k of dist[m-k] * cnt/tot (exact
    integer-ratio doubles, no transcendentals), unknown single chars
    fall back to cnt=1, ties break to the largest k (list_sort DESC on
    (cost, k) structs == the Spark fold's strictly-greater replacement
    in k-descending order). Suffix ``t`` namespaces the CTEs."""
    cands = ", ".join(
        f"struct_pack(c := CASE WHEN v.j + 1 >= {k} THEN "
        f"v.dc[v.j + 2 - {k}] * (CAST(coalesce(map_extract(mm.mp, "
        f"substr(v.word, v.j + 2 - {k}, {k}))[1], {1 if k == 1 else 0}) "
        f"AS DOUBLE) / mm.tot) ELSE CAST(-2.0 AS DOUBLE) END, k := {k})"
        for k in range(max_len, 0, -1))
    best = f"(list_sort([{cands}], 'DESC')[1])"
    return f"""
    m{t} AS (SELECT map(list(piece ORDER BY piece),
                        list(cnt ORDER BY piece)) AS mp,
                    CAST(sum(cnt) AS DOUBLE) AS tot FROM {pieces_cte}),
    vit{t} AS (
      SELECT word, 0 AS j, [CAST(1.0 AS DOUBLE)] AS dc, [0] AS db FROM w
      UNION ALL
      SELECT v.word, v.j + 1,
             list_append(v.dc, {best}.c),
             list_append(v.db, v.j + 1 - {best}.k)
      FROM vit{t} v, m{t} mm WHERE v.j < length(v.word)),
    bt{t} AS (
      SELECT word, length(word) AS pos, CAST([] AS VARCHAR[]) AS ps, db
      FROM vit{t} WHERE j = length(word)
      UNION ALL
      SELECT word, db[pos + 1],
             list_prepend(substr(word, db[pos + 1] + 1, pos - db[pos + 1]),
                          ps), db
      FROM bt{t} WHERE pos > 0),
    seg{t} AS (SELECT word, ps FROM bt{t} WHERE pos = 0)"""


def _unigram_ctes(keep: int, iters: int, max_len: int) -> str:
    """Unigram-LM training unrolled as CTEs (the _bpe_ctes pattern):
    seed (all single chars + top-``keep`` substrings of length
    2..max_len, overlap-counted, ties to the smaller piece), then
    ``iters`` hard-EM rounds of Viterbi segmentation + recount with the
    single-char cnt>=1 coverage floor."""
    parts = [
        "w AS (SELECT word, count(*) AS cnt FROM "
        f"({SQL_TOKENS}) WHERE word <> '' GROUP BY word)",
        f"""sub AS (SELECT substr(word, s, k) AS piece,
               CAST(sum(cnt) AS BIGINT) AS cnt
             FROM w, unnest(generate_series(1, length(word))) AS a(s),
                  unnest(generate_series(1, {max_len})) AS b(k)
             WHERE s + k - 1 <= length(word) GROUP BY 1)""",
        "sing AS (SELECT piece, cnt FROM sub WHERE length(piece) = 1)",
        f"""p0 AS (SELECT piece, cnt FROM sing
             UNION ALL
             SELECT piece, cnt FROM (
               SELECT piece, cnt,
                      row_number() OVER (ORDER BY cnt DESC, piece) AS r
               FROM sub WHERE length(piece) >= 2) WHERE r <= {keep})""",
    ]
    for t in range(iters):
        parts.append(_unigram_viterbi_ctes(str(t), f"p{t}", max_len))
        parts.append(
            f"""c{t} AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
              FROM (SELECT w.cnt, unnest(s.ps) AS piece
                    FROM seg{t} s JOIN w USING (word)) GROUP BY piece)""")
        parts.append(
            f"""p{t + 1} AS (
              SELECT piece, cnt FROM c{t} WHERE length(piece) >= 2
              UNION ALL
              SELECT s.piece,
                     greatest(coalesce(c.cnt, CAST(0 AS BIGINT)),
                              CAST(1 AS BIGINT)) AS cnt
              FROM sing s LEFT JOIN c{t} c USING (piece))""")
    return ",\n    ".join(parts)


_UNIGRAM_KEEP, _UNIGRAM_ITERS, _UNIGRAM_MAXLEN = 40, 2, 4


@query(
    "unigram_lm_train",
    f"""WITH RECURSIVE {_unigram_ctes(_UNIGRAM_KEEP, _UNIGRAM_ITERS,
                                      _UNIGRAM_MAXLEN)},
    tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM p{_UNIGRAM_ITERS})
    SELECT piece, cnt,
           floor(CAST(cnt AS DOUBLE) / tt.tot * 1e6 + 0.5) / 1e6 AS prob
    FROM p{_UNIGRAM_ITERS}, tt""",
    "Unigram-LM tokenizer training (Kudo ACL'18, SentencePiece-style "
    "Viterbi-EM; word-boundary-restricted like bpe_train): seed with "
    "every corpus character plus the top-40 substrings up to length 4, "
    "then two hard-EM rounds — Viterbi-segment the vocabulary under the "
    "current piece distribution, recount pieces weighted by word "
    "frequency, floor single characters at cnt>=1 for coverage. "
    "Engine-exact by construction: probabilities are exact integer "
    "ratios and the DP multiplies/compares doubles only (no ln()), so "
    "both engines walk bit-identical Viterbi paths; ties break to the "
    "longest final piece on both sides (Spark: strictly-greater fold in "
    "k-descending order; oracle: list_sort DESC on (cost,k)). All "
    "training is vocabulary-scale — the corpus is read once into the "
    "word-frequency aggregate, each EM round touches only that table, "
    "and the per-round piece state is a 1-row broadcast map "
    "(operators/unigram.py).",
)
def q_unigram_lm_train(spark: SparkSession, sf: str) -> DataFrame:
    return UNI.unigram_train(table(spark, sf, "documents"),
                             keep=_UNIGRAM_KEEP, iters=_UNIGRAM_ITERS,
                             max_len=_UNIGRAM_MAXLEN)


@query(
    "unigram_encode",
    f"""WITH RECURSIVE {_unigram_ctes(_UNIGRAM_KEEP, _UNIGRAM_ITERS,
                                      _UNIGRAM_MAXLEN)},
    {_unigram_viterbi_ctes('f', f'p{_UNIGRAM_ITERS}', _UNIGRAM_MAXLEN)},
    ids AS (SELECT piece,
                   CAST(row_number() OVER (ORDER BY piece) AS INTEGER)
                     AS pid
            FROM p{_UNIGRAM_ITERS}),
    px AS (SELECT word, j, ps[j] AS piece, len(ps) AS n
           FROM segf, unnest(generate_series(1, len(ps))) AS t(j)),
    pz AS (SELECT px.word, any_value(px.n) AS n,
                  string_agg(CAST(coalesce(i.pid, 0) AS VARCHAR), ','
                             ORDER BY px.j) AS ids
           FROM px LEFT JOIN ids i ON i.piece = px.piece
           GROUP BY px.word),
    dw AS (SELECT doc_id, j, arr[j] AS word
           FROM (SELECT doc_id,
                        regexp_split_to_array(lower(text), '\\s+') AS arr
                 FROM documents) dt,
                unnest(generate_series(1, len(arr))) AS t(j)
           WHERE arr[j] <> ''),
    agg AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(z.n) AS BIGINT) AS n_tokens,
                   string_agg(z.ids, ',' ORDER BY d.j) AS token_ids
            FROM dw d JOIN pz z USING (word) GROUP BY d.doc_id)
    SELECT d.doc_id, CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.token_ids, '') AS token_ids
    FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "Corpus tokenization with the trained unigram LM — Viterbi "
    "(max-probability) segmentation under the learned piece "
    "distribution, the SentencePiece counterpart of bpe_encode. Per "
    "document: (n_words, n_tokens, token_ids) with dense lexicographic "
    "piece ids (UNK=0 reserved for never-seen characters). 100 TB "
    "design — word-level memoization: segmentation is a pure function "
    "of the word, so Viterbi runs once per DISTINCT word (the zipf-"
    "small table the training aggregation already builds), the word->"
    "ids table folds into a 1-row broadcast map, and the corpus-scale "
    "pass is one scan applying that map per token — zero corpus "
    "shuffles, zero Python (operators/unigram.py:apply_unigram). The "
    "oracle re-derives the same per-word segmentation relationally "
    "(recursive-CTE DP + backtrack), so parity is also an "
    "encode-vs-train consistency proof.",
)
def q_unigram_encode(spark: SparkSession, sf: str) -> DataFrame:
    return UNI.unigram_encode(table(spark, sf, "documents"),
                              keep=_UNIGRAM_KEEP, iters=_UNIGRAM_ITERS,
                              max_len=_UNIGRAM_MAXLEN)


@query(
    "unigram_encode_join",
    QUERIES["unigram_encode"].oracle,
    "unigram_encode's open-vocabulary scale path: the same trained "
    "piece distribution applied through the word-memoized TABLE form — "
    "Viterbi once per distinct word (operators/unigram.py:"
    "unigram_word_table), then the hash-partitioned word-keyed "
    "equi-join + ordered doc reassembly shared with bpe_encode_join "
    "(operators/bpe.py:encode_with_word_table; shuffle_hash hinted so "
    "the unbounded word table is never broadcast). Byte-identical to "
    "unigram_encode (crossover-tested; same oracle); strategy='auto' "
    "measures the distinct-word count and picks.",
)
def q_unigram_encode_join(spark: SparkSession, sf: str) -> DataFrame:
    return UNI.unigram_encode(table(spark, sf, "documents"),
                              keep=_UNIGRAM_KEEP, iters=_UNIGRAM_ITERS,
                              max_len=_UNIGRAM_MAXLEN, strategy="join")


@query(
    "source_mixture",
    r"""WITH s AS (SELECT source, count(*) AS n_docs,
      CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                               x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    i AS (SELECT source, n_docs, n_tokens,
      CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS isq
      FROM s)
    SELECT source, n_docs, n_tokens,
      floor(CAST(isq AS DOUBLE) / CAST(sum(isq) OVER () AS DOUBLE) * 1e6 + 0.5)
        / 1e6 AS weight
    FROM i""",
    "Temperature-weighted source mixture (alpha=1/2, the mC4/XLM-R "
    "smoothing): per-source sampling weight proportional to "
    "sqrt(tokens), normalized. sqrt is the IEEE-correctly-rounded libm "
    "call, each sqrt quantizes to integer micro-units BEFORE the "
    "normalizing sum (integer sums are order-exact), and the weight is "
    "one double division of two exact integers through stable_round(6) "
    "— no float-sum order dependence anywhere. One corpus scan, one "
    "groupBy on the source handful, one tiny window.",
)
def q_source_mixture(spark: SparkSession, sf: str) -> DataFrame:
    return SAMP.source_mixture(table(spark, sf, "documents"), alpha=0.5)


# L2-normalization CTE (mirrors operators/similarity._unit): components
# cast exact, norm = sqrt of a left-to-right list_reduce sum (the same
# association as Spark's F.aggregate fold, so the double is
# bit-identical — probed: 500/500 sf0.01 vectors byte-equal), each
# component divided and floor-rounded at 6.
_NORM_CTE = """embn AS (
  SELECT vec_id, list_transform(v, x -> floor(
           (CASE WHEN nn = 0 THEN 0.0 ELSE x / nn END) * 1e6 + 0.5) / 1e6)
           AS embedding
  FROM (SELECT vec_id, v,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                                (a, b) -> a + b)) AS nn
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)))"""


def _pq_parts(m: int, codebook: int, iters: int, dim: int,
              from_table: str = "embeddings") -> tuple[list[str], str]:
    """Shared PQ oracle pieces: the per-subspace kmeans blocks + query
    subvector/partial-distance CTEs, and the joined `codes` CTE.
    `from_table` retargets both the trained corpus and the query rows
    (e.g. `embn` for the normalized PQ path)."""
    w = dim // m
    blocks, qs, pds = [], [], []
    for s in range(m):
        lo, hi = s * w + 1, s * w + w
        blocks.append(_kmeans_ctes(codebook, iters, prefix=f"s{s}_",
                                   vec_expr=f"embedding[{lo}:{hi}]",
                                   from_table=from_table))
        qs.append(
            f"q{s} AS (SELECT vec_id AS q_id, "
            f"list_transform(embedding[{lo}:{hi}], x -> CAST(x AS DOUBLE)) AS qe "
            f"FROM {from_table} WHERE vec_id < 20)")
        pds.append(
            f"pd{s} AS (SELECT q.q_id, c.cid, "
            f"floor(list_sum(list_transform(generate_series(1, len(q.qe)), "
            f"i -> (q.qe[i] - c.cent[i]) * (q.qe[i] - c.cent[i]))) "
            f"* 1e6 + 0.5) / 1e6 AS d "
            f"FROM q{s} q CROSS JOIN s{s}_c{iters} c)")
    code_cols = ", ".join(f"a{s}.cid AS k{s}" for s in range(m))
    code_joins = " ".join(f"JOIN s{s}_a{iters} a{s} USING (vec_id)"
                          for s in range(1, m))
    codes = (f"codes AS (SELECT a0.vec_id, {code_cols} "
             f"FROM s0_a{iters} a0 {code_joins})")
    return blocks + qs + pds, codes


def _adc_tail(topk: int) -> str:
    return (f"SELECT q_id, c_id, floor(ad * 1e4 + 0.5) / 1e4 AS adc_dist, rnk "
            f"FROM (SELECT q_id, c_id, ad, row_number() OVER "
            f"(PARTITION BY q_id ORDER BY ad, c_id) AS rnk FROM cand) t "
            f"WHERE rnk <= {topk}")


def _refine_bound(refine, topk: int) -> str:
    """SQL form of the refine budget: a literal for fixed R, or the
    corpus-adaptive scalar subquery mirroring similarity.auto_refine
    (integer arithmetic on both engines; at n <= 500 it evaluates to
    the 50 floor, so hash-verified SFs are bit-identical to fixed
    R=50)."""
    if refine == "auto":
        return (f"(SELECT greatest(50, {topk} * ((count(*) + 49) // 50)) "
                f"FROM embeddings)")
    return str(refine)


def _pq_sql(m: int = 4, codebook: int = 16, iters: int = 1, dim: int = 64,
            topk: int = 5, refine=None) -> str:
    """Oracle for the PQ/ADC pipeline: L2-normalize (`_NORM_CTE`, so the
    L2 quantizer ranks in the cosine metric — r8), then one
    `_kmeans_ctes` block per subspace (prefixed, sliced vec_expr,
    trained FROM embn), codes joined per vector, per-query
    partial-distance tables, and the m-term ADC sum added left-to-right
    exactly as the Spark expression does. ``refine=R`` mirrors the Spark
    refine stage: shortlist the ADC top-R per query, exact cosine
    re-rank on the normalized vectors (same tail as `_ivfpq_sql`)."""
    parts, codes = _pq_parts(m, codebook, iters, dim, from_table="embn")
    pd_joins = " ".join(
        f"JOIN pd{s} p{s} ON p{s}.q_id = p0.q_id AND p{s}.cid = x.k{s}"
        for s in range(1, m))
    ad = " + ".join(f"p{s}.d" for s in range(m))
    cand = (f"cand AS (SELECT p0.q_id, x.vec_id AS c_id, {ad} AS ad "
            f"FROM codes x JOIN pd0 p0 ON p0.cid = x.k0 {pd_joins} "
            f"WHERE p0.q_id <> x.vec_id)")
    if refine is None:
        body = ",\n    ".join([_NORM_CTE] + parts + [codes, cand])
        return f"WITH {body} {_adc_tail(topk)}"
    short = (f"short AS (SELECT q_id, c_id FROM ("
             f"SELECT q_id, c_id, row_number() OVER "
             f"(PARTITION BY q_id ORDER BY ad, c_id) AS rnk FROM cand) t "
             f"WHERE rnk <= {_refine_bound(refine, topk)})")
    rcand = ("rcand AS (SELECT s.q_id, s.c_id, "
             "floor(list_cosine_similarity(q.embedding, c.embedding) "
             "* 1e6 + 0.5) / 1e6 AS s6 "
             "FROM short s JOIN embn q ON q.vec_id = s.q_id "
             "JOIN embn c ON c.vec_id = s.c_id)")
    tail = (f"SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk "
            f"FROM (SELECT q_id, c_id, s6, row_number() OVER "
            f"(PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk FROM rcand) t "
            f"WHERE rnk <= {topk}")
    body = ",\n    ".join([_NORM_CTE] + parts + [codes, cand, short, rcand])
    return f"WITH {body} {tail}"


def _ivfpq_sql(nprobe: int = 2, coarse_k: int = 8, coarse_iters: int = 2,
               m: int = 4, codebook: int = 16, pq_iters: int = 1,
               dim: int = 64, topk: int = 5, refine=50) -> str:
    """Oracle for the composed IVFADC pipeline, mirroring the r8 Spark
    plan stage-for-stage: normalize (`_NORM_CTE`), coarse `_kmeans_ctes`
    (cg_ prefix, FROM embn) routing queries to nprobe cells by squared
    L2, residual corpus `resv` (x − cell centroid, floor-rounded 6), PQ
    blocks trained FROM resv, per-(query, cell) residual ADC tables,
    shortlist of the ADC top-`refine` within probed cells, and the exact
    cosine re-rank of the shortlist on the normalized vectors."""
    w = dim // m
    dist = ("floor(list_sum(list_transform(generate_series(1, len(q.qe)), "
            "i -> (q.qe[i] - c.cent[i]) * (q.qe[i] - c.cent[i]))) "
            "* 1e6 + 0.5) / 1e6")
    coarse = _kmeans_ctes(coarse_k, coarse_iters, prefix="cg_",
                          from_table="embn")
    # cg_v already holds the cast normalized vectors — reuse as queries
    qv = f"qv AS (SELECT vec_id AS q_id, e AS qe FROM cg_v WHERE vec_id < 20)"
    routed = (f"routed AS (SELECT q_id, cid AS cell FROM ("
              f"SELECT q.q_id, c.cid, row_number() OVER "
              f"(PARTITION BY q.q_id ORDER BY {dist}, c.cid) AS r "
              f"FROM qv q CROSS JOIN cg_c{coarse_iters} c) WHERE r <= {nprobe})")
    lab = f"lab AS (SELECT vec_id, cid AS cell FROM cg_a{coarse_iters})"
    resv = (f"resv AS (SELECT a.vec_id, "
            f"list_transform(generate_series(1, len(a.e)), "
            f"i -> floor((a.e[i] - c.cent[i]) * 1e6 + 0.5) / 1e6) AS embedding "
            f"FROM cg_a{coarse_iters} a JOIN cg_c{coarse_iters} c USING (cid))")
    qres = (f"qres AS (SELECT r.q_id, r.cell, "
            f"list_transform(generate_series(1, len(q.qe)), "
            f"i -> floor((q.qe[i] - c.cent[i]) * 1e6 + 0.5) / 1e6) AS qe "
            f"FROM routed r JOIN qv q USING (q_id) "
            f"JOIN cg_c{coarse_iters} c ON c.cid = r.cell)")
    # PQ blocks + codes train on the residual corpus; the q{s}/pd{s}
    # CTEs from _pq_parts are query-side raw-vector tables, replaced
    # here by per-(query, cell) residual tables
    parts, codes = _pq_parts(m, codebook, pq_iters, dim, from_table="resv")
    blocks = [p for p in parts if p.lstrip().startswith("s")]
    pds = [
        (f"pd{s} AS (SELECT q.q_id, q.cell, c.cid, "
         f"floor(list_sum(list_transform(generate_series(1, {w}), "
         f"i -> (q.qe[{s * w} + i] - c.cent[i]) * (q.qe[{s * w} + i] - c.cent[i]))) "
         f"* 1e6 + 0.5) / 1e6 AS d "
         f"FROM qres q CROSS JOIN s{s}_c{pq_iters} c)")
        for s in range(m)]
    pd_joins = " ".join(
        f"JOIN pd{s} p{s} ON p{s}.q_id = r.q_id AND p{s}.cell = r.cell "
        f"AND p{s}.cid = x.k{s}"
        for s in range(m))
    ad = " + ".join(f"p{s}.d" for s in range(m))
    short = (f"short AS (SELECT q_id, c_id FROM ("
             f"SELECT r.q_id, x.vec_id AS c_id, row_number() OVER "
             f"(PARTITION BY r.q_id ORDER BY {ad}, x.vec_id) AS rnk "
             f"FROM codes x JOIN lab l ON l.vec_id = x.vec_id "
             f"JOIN routed r ON r.cell = l.cell {pd_joins} "
             f"WHERE r.q_id <> x.vec_id) "
             f"WHERE rnk <= {_refine_bound(refine, topk)})")
    cand = ("cand AS (SELECT s.q_id, s.c_id, "
            "floor(list_cosine_similarity(q.qe, c.embedding) * 1e6 + 0.5) "
            "/ 1e6 AS s6 "
            "FROM short s JOIN qv q ON q.q_id = s.q_id "
            "JOIN embn c ON c.vec_id = s.c_id)")
    tail = (f"SELECT q_id, c_id, floor(s6 * 1e4 + 0.5) / 1e4 AS cos_sim, rnk "
            f"FROM (SELECT q_id, c_id, s6, row_number() OVER "
            f"(PARTITION BY q_id ORDER BY s6 DESC, c_id) AS rnk FROM cand) t "
            f"WHERE rnk <= {topk}")
    body = ",\n    ".join([_NORM_CTE, coarse, qv, routed, lab, resv, qres]
                          + blocks + pds + [codes, short, cand])
    return f"WITH {body} {tail}"


@query(
    "pq_knn",
    _pq_sql(m=4, codebook=16, iters=1, dim=64, topk=5, refine="auto"),
    "Product-quantization ANN (Jegou et al., TPAMI'11), the memory-bound "
    "scale tier of the ANN ladder: each 64-dim vector compresses to four "
    "subspace codes (16-centroid codebook per subspace, `_kmeans_fit` "
    "contract), queries precompute m*16 partial squared-L2 entries, and "
    "scoring is four broadcast equi-join lookups + a left-to-right sum — "
    "the serving scan reads codes, never embedding bytes (~1000x less "
    "I/O at 100 TB). Both sides L2-normalize first (r8: on the unit "
    "sphere the L2 quantizer ranks in the graded cosine metric). "
    "Trainer and encoder are localCheckpoint'ed, so the serving plan "
    "carries no Lloyd's lineage. refine is CORPUS-ADAPTIVE (r9, "
    "similarity.auto_refine): the ADC shortlist holds a fixed "
    "~topk/50 fraction of the corpus (floor 50 — bit-identical to "
    "the fixed-R history at every hash-verified SF) before the "
    "exact cosine re-rank; at fixed R=50 recall@5 fell 0.96 -> "
    "0.67 from n=500 to n=2000 and the rule restores 0.98 (the "
    "fixed-code-resolution contract is documented on auto_refine). "
    "Oracle: normalize CTE + "
    "per-subspace `_kmeans_ctes` (prefixed, sliced, FROM embn) + the "
    "identical ADC join/sum + the identical shortlist/re-rank tail.",
)
def q_pq_knn(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return SIM.pq_knn(emb.filter(F.col("vec_id") < 20), emb,
                      k=5, m=4, codebook=16, iters=1, dim=64,
                      refine=SIM.auto_refine(emb.count(), 5))


@query(
    "value_percentiles",
    "WITH q AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "quantile_cont(value, [0.5, 0.9, 0.99]) AS qs "
    "FROM events GROUP BY event_type) "
    "SELECT event_type, n, "
    "floor(qs[1] * 1e4 + 0.5) / 1e4 AS p50, "
    "floor(qs[2] * 1e4 + 0.5) / 1e4 AS p90, "
    "floor(qs[3] * 1e4 + 0.5) / 1e4 AS p99 FROM q",
    "Exact interpolated percentiles (p50/p90/p99) of event value per "
    "type — the latency-SLO warehouse shape. Spark `percentile` and "
    "DuckDB `quantile_cont` share the linear-interpolation definition "
    "h=(n-1)p and produce bit-identical doubles on identical groups "
    "(verified including trailing float noise); stable_round(4) guards "
    "the boundary. One shuffle on the handful of types; at 100 TB swap "
    "in approx_percentile with a documented error budget — the exact "
    "sort-based aggregate is the correctness baseline.",
)
def q_value_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    from .functions import stable_round
    ev = table(spark, sf, "events")
    qs = (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.percentile("value", F.array(F.lit(0.5), F.lit(0.9),
                                               F.lit(0.99))).alias("__q")))
    return qs.select(
        "event_type", "n",
        stable_round(F.get("__q", 0), 4).alias("p50"),
        stable_round(F.get("__q", 1), 4).alias("p90"),
        stable_round(F.get("__q", 2), 4).alias("p99"))


@query(
    "source_overlap",
    f"""WITH {_LSH_CTES},
    pr AS (SELECT d1, d2, jac FROM verified WHERE jac >= 0.2),
    m AS (SELECT doc_id, source FROM documents)
    SELECT least(m1.source, m2.source) AS source_a,
           greatest(m1.source, m2.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CAST(floor(jac * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4
             AS jac_mass
    FROM pr JOIN m m1 ON m1.doc_id = pr.d1 JOIN m m2 ON m2.doc_id = pr.d2
    GROUP BY 1, 2""",
    "Cross-source duplicate-mass matrix: MinHash/LSH near-dup pairs "
    "(the minhash_lsh_pairs pipeline, jac >= 0.2) attributed to their "
    "(source, source) cell — the curation diagnostic that says which "
    "sources duplicate each other (off-diagonal = cross-corpus "
    "contamination, diagonal = intra-source redundancy). Pair jac "
    "quantizes to exact integer ten-thousandths BEFORE the mass sum, so "
    "no float-sum order-dependence; the pair relation is "
    "candidate-driven (LSH-bucketed), the source map joins by doc id, "
    "and the matrix is |sources|^2 tiny.",
)
def q_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                                jaccard_threshold=0.2)
    m = docs.select("doc_id", "source")
    j = (pairs
         .join(m.withColumnsRenamed({"doc_id": "d1", "source": "__s1"}), "d1")
         .join(m.withColumnsRenamed({"doc_id": "d2", "source": "__s2"}), "d2"))
    jq = F.floor(F.col("jac") * 1e4 + F.lit(0.5)).cast("long")
    return (j.select(F.least("__s1", "__s2").alias("source_a"),
                     F.greatest("__s1", "__s2").alias("source_b"),
                     jq.alias("__jq"))
             .groupBy("source_a", "source_b")
             .agg(F.count("*").alias("n_pairs"),
                  (F.sum("__jq").cast("double") / 1e4).alias("jac_mass")))


@query(
    "pipeline_funnel",
    r"""WITH m AS (SELECT doc_id,
      CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '')) AS BIGINT) AS nt,
      len(list_filter(regexp_split_to_array(lower(text), '\s+'),
          x -> x IN ('the','a','of','and','to','in','is'))) AS sw,
      len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                    x -> x <> ''))) AS nd,
      length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS nonal,
      length(text) AS chars FROM documents),
    g AS (SELECT doc_id, nt,
      (nt >= 25) AS g_len,
      (CASE WHEN chars > 0
            THEN CAST(nonal AS DOUBLE) / chars <= 0.4 ELSE FALSE END) AS g_alnum,
      (CASE WHEN nt > 0 AND chars > 0 THEN
        floor((least(nt / 100.0, 1.0) * 0.4 + (CAST(sw AS DOUBLE) / nt) * 0.3
              + (1.0 - CAST(nonal AS DOUBLE) / chars) * 0.3) * 10000 + 0.5)
         / 10000 >= 0.55 ELSE FALSE END) AS g_quality,
      (CASE WHEN nt > 0 THEN
        floor((1.0 - CAST(nd AS DOUBLE) / nt) * 10000 + 0.5) / 10000 <= 0.6
        ELSE FALSE END) AS g_rep FROM m)
    SELECT CAST(count(*) AS BIGINT) AS n_total,
      CAST(sum(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
      CAST(sum(CASE WHEN g_len AND g_alnum THEN 1 ELSE 0 END) AS BIGINT)
        AS n_alnum,
      CAST(sum(CASE WHEN g_len AND g_alnum AND g_quality THEN 1 ELSE 0 END)
        AS BIGINT) AS n_quality,
      CAST(sum(CASE WHEN g_len AND g_alnum AND g_quality AND g_rep
        THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition
    FROM g""",
    "Quality-gate funnel: survivor counts through the cascaded curation "
    "gates (length floor >= 25 tokens -> non-alnum ceiling 0.4 -> "
    "composite quality >= 0.55 -> duplicate-token fraction <= 0.6) as "
    "ONE conditional aggregate over ONE scan — the yield report every "
    "curation run publishes first. Gate arithmetic follows the "
    "quality_score / repetition_stats formulas but normalizes by the "
    "EMPTY-FILTERED token count throughout (quality_score divides by "
    "the raw split length, which counts phantom tokens on "
    "whitespace-padded docs — the funnel's variant is the stricter, "
    "self-consistent one); comparisons are rounded, so thresholds are "
    "boundary-safe across engines, and every division is guarded so "
    "empty/whitespace-only docs fail gates instead of raising "
    "DIVIDE_BY_ZERO under ANSI mode. No joins, no shuffles beyond the "
    "single global aggregate.",
)
def q_pipeline_funnel(spark: SparkSession, sf: str) -> DataFrame:
    from .functions import stable_round
    docs = table(spark, sf, "documents")
    ws = F.filter(tokens("text"), lambda x: x != "")
    stop = F.array(*[F.lit(s) for s in
                     ("the", "a", "of", "and", "to", "in", "is")])
    nt = F.size(ws).cast("long")
    sw = F.size(F.filter(ws, lambda x: F.array_contains(stop, x)))
    nd = F.size(F.array_distinct(ws))
    nonal = F.length(F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", ""))
    chars = F.length("text")
    # every division is guarded: empty/whitespace-only docs have nt=0
    # (and chars=0 for ''), which under Spark 4's ANSI mode would abort
    # the whole aggregate with DIVIDE_BY_ZERO; such docs fail the gates
    quality = stable_round(
        F.least(nt / 100.0, F.lit(1.0)) * 0.4
        + (sw.cast("double") / nt) * 0.3
        + (F.lit(1.0) - nonal.cast("double") / chars) * 0.3, 4)
    dup = stable_round(F.lit(1.0) - nd.cast("double") / nt, 4)
    guarded = lambda cond, gate: F.when(cond, gate).otherwise(F.lit(False))  # noqa: E731
    g = docs.select(
        (nt >= 25).alias("g_len"),
        guarded(chars > 0, nonal.cast("double") / chars <= 0.4)
            .alias("g_alnum"),
        guarded((nt > 0) & (chars > 0), quality >= 0.55).alias("g_quality"),
        guarded(nt > 0, dup <= 0.6).alias("g_rep"))
    b = lambda c: c.cast("int")  # noqa: E731
    return g.agg(
        F.count("*").alias("n_total"),
        F.sum(b(F.col("g_len"))).cast("long").alias("n_len"),
        F.sum(b(F.col("g_len") & F.col("g_alnum"))).cast("long").alias("n_alnum"),
        F.sum(b(F.col("g_len") & F.col("g_alnum") & F.col("g_quality")))
         .cast("long").alias("n_quality"),
        F.sum(b(F.col("g_len") & F.col("g_alnum") & F.col("g_quality")
                & F.col("g_rep"))).cast("long").alias("n_repetition"))


@query(
    "knn_ivfpq",
    _ivfpq_sql(nprobe=2, coarse_k=8, coarse_iters=2,
               m=4, codebook=16, pq_iters=1, dim=64, topk=5,
               refine="auto"),
    "IVFADC + refine — the composed capstone of the ANN ladder (Jégou "
    "TPAMI'11 §IV + the FAISS refine stage): both sides L2-normalize "
    "(L2 == cosine ordering on the unit sphere; without this the "
    "clustered fixture's norm spread capped even exact-L2 recall at "
    "0.68 — r8), a trained coarse quantizer routes queries to nprobe=2 "
    "cells by squared L2, PQ codebooks train on CELL RESIDUALS "
    "(x − centroid, the paper's formulation; one shared codebook set so "
    "encoding stays cell-independent and survives rebalancing at "
    "100 TB), ADC scores codes only (zero embedding bytes), and the "
    "ADC top-R shortlist is exactly re-ranked by cosine, with R "
    "corpus-adaptive (r9, similarity.auto_refine: a fixed ~topk/50 "
    "fraction, floor 50 — hash-verified SFs bit-identical to fixed "
    "R=50; at fixed R the clustered fixture fell 0.90 -> 0.65 from "
    "n=500 to 2000, the rule restores 0.93). Clustered-fixture "
    "recall@5: 0.39 (r7 raw-vector ADC) -> 0.90. Coarse assignment, "
    "residuals, and codes are checkpointed serving tables; after the "
    "broadcast training lookups every join is an equi-join. Oracle "
    "mirrors every stage (normalize CTE probed bit-identical; residual "
    "and per-(query,cell) ADC tables floor-rounded at 6 like the Spark "
    "expressions).",
)
def q_knn_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    return SIM.ivfpq_knn(emb.filter(F.col("vec_id") < 20), emb,
                         k=5, nprobe=2, coarse_k=8, coarse_iters=2,
                         m=4, codebook=16, pq_iters=1, dim=64,
                         refine=SIM.auto_refine(emb.count(), 5))


@query(
    "exact_substring_dedup",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    g AS (SELECT doc_id, i - 1 AS pos,
           CAST('0x' || substr(md5(list_aggregate(ws[i:i+3], 'string_agg', ' ')),
                1, 15) AS BIGINT) AS h
          FROM tk, unnest(generate_series(1, len(ws) - 3)) AS u(i)
          WHERE len(ws) >= 4),
    w AS (SELECT h, min(doc_id) AS winner FROM g GROUP BY h),
    d AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
          FROM g JOIN w USING (h) WHERE g.doc_id > w.winner),
    m AS (SELECT doc_id, pos, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
          FROM d),
    i AS (SELECT doc_id, pos, e,
           sum(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          FROM m),
    sp AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS e FROM i GROUP BY 1, 2),
    st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
            CAST(sum(e - s) AS BIGINT) AS tokens_removed FROM sp GROUP BY doc_id),
    nt AS (SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text),
            '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents)
    SELECT n.doc_id, n.n_tokens,
           coalesce(st.n_dup_spans, 0) AS n_dup_spans,
           coalesce(st.tokens_removed, 0) AS tokens_removed,
           n.n_tokens - coalesce(st.tokens_removed, 0) AS n_tokens_kept
    FROM nt n LEFT JOIN st USING (doc_id)""",
    "Exact-substring dedup (Lee et al. ACL'22, cross-document): token "
    "spans that also appear in an earlier document, found by fixed-4-gram "
    "hash marking + gaps-and-islands interval merge — which provably "
    "reconstructs the maximal duplicated runs >= L, so this IS the "
    "suffix-array answer restricted to cross-doc first-occurrence-wins "
    "(operators/dedup.py docstring). All integer arithmetic, portable "
    "60-bit gram hashes (collision-identical on both engines), text "
    "never shuffles; the interval merge windows only over the few "
    "percent of positions that are duplicates.",
)
def q_exact_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_substring_dedup_stats(table(spark, sf, "documents"), l=4)


@query(
    "max_dup_spans",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    g AS (SELECT doc_id, i - 1 AS pos,
           CAST('0x' || substr(md5(list_aggregate(ws[i:i+3], 'string_agg', ' ')),
                1, 15) AS BIGINT) AS h
          FROM tk, unnest(generate_series(1, len(ws) - 3)) AS u(i)
          WHERE len(ws) >= 4),
    w AS (SELECT h, min(doc_id) AS winner FROM g GROUP BY h),
    d AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
          FROM g JOIN w USING (h) WHERE g.doc_id > w.winner),
    m AS (SELECT doc_id, pos, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
          FROM d),
    i AS (SELECT doc_id, pos, e,
           sum(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          FROM m),
    sp AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS e FROM i GROUP BY 1, 2)
    SELECT doc_id, CAST(s AS BIGINT) AS span_start,
           CAST(e AS BIGINT) AS span_end,
           CAST(e - s AS BIGINT) AS span_len
    FROM sp WHERE e - s >= 6""",
    "Maximal duplicated-span boundaries with the Lee et al. ACL'22 "
    "minimum-length threshold — the suffix-array production form "
    "reports maximal cross-document duplicated runs of >= N tokens and "
    "hands their offsets to the cutter (the paper uses 50; the "
    "fixture's shorter documents use 6). The gaps-and-islands merge "
    "over duplicated 4-gram offsets reconstructs the maximal runs "
    "exactly (operators/dedup.py equivalence argument), the threshold "
    "is a post-merge filter (a short span can never extend a long "
    "one), and output is the boundaries themselves: (doc_id, "
    "span_start, span_end, span_len), end-exclusive token offsets. "
    "All-integer after the gram hash; text never shuffles "
    "(operators/dedup.py:max_dup_spans).",
)
def q_max_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    return D.max_dup_spans(table(spark, sf, "documents"), l=4, min_len=6)


@query(
    "exact_substring_apply",
    r"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    g AS (SELECT doc_id, i - 1 AS pos,
           CAST('0x' || substr(md5(list_aggregate(ws[i:i+3], 'string_agg', ' ')),
                1, 15) AS BIGINT) AS h
          FROM tk, unnest(generate_series(1, len(ws) - 3)) AS u(i)
          WHERE len(ws) >= 4),
    w AS (SELECT h, min(doc_id) AS winner FROM g GROUP BY h),
    d AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e
          FROM g JOIN w USING (h) WHERE g.doc_id > w.winner),
    m AS (SELECT doc_id, pos, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
          FROM d),
    i AS (SELECT doc_id, pos, e,
           sum(CASE WHEN pe IS NULL OR pos > pe THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
          FROM m),
    sp AS (SELECT doc_id, isl, min(pos) AS s, max(e) AS e FROM i GROUP BY 1, 2),
    kt AS (SELECT doc_id, j - 1 AS pos, ws[j] AS tok
           FROM tk, unnest(generate_series(1, len(ws))) AS u(j)),
    keep AS (SELECT k.doc_id, k.pos, k.tok FROM kt k
             WHERE NOT EXISTS (SELECT 1 FROM sp
                               WHERE sp.doc_id = k.doc_id
                                 AND k.pos >= sp.s AND k.pos < sp.e)),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM keep GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "The REMOVAL half of Lee et al. ACL'22 exact-substring dedup — "
    "produces the cleaned corpus exact_substring_dedup only describes: "
    "every token span duplicated from an earlier document is cut "
    "(first occurrence kept corpus-wide) and the surviving tokens "
    "rejoin into the document the LM pipeline tokenizes. Same span "
    "finder (gram hashes + integer positions shuffle, text never "
    "shuffles); spans fold into a per-doc array and the cut is a "
    "scan-side indexed filter. clean_text is the kept TOKEN stream "
    "(lower-cased, space-joined) — the downstream tokenizer's view. "
    "Oracle: the stats CTEs through the span merge, then an "
    "anti-containment keep + ordered string_agg.",
)
def q_exact_substring_apply(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_substring_dedup_apply(table(spark, sf, "documents"), l=4)


@query(
    "dsir_score",
    r"""WITH tk AS (SELECT doc_id, source,
           list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> x <> '') AS ws FROM documents),
    bg AS (SELECT doc_id, source,
           CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 15) AS BIGINT)
             % 4096 AS bk
           FROM tk, unnest(generate_series(1, len(ws) - 1)) AS u(i)
           WHERE len(ws) >= 2),
    pb AS (SELECT bk, CAST(count(*) AS BIGINT) AS r,
            CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
                     THEN 1 ELSE 0 END) AS BIGINT) AS t
           FROM bg GROUP BY bk),
    tot AS (SELECT CAST(sum(r) AS BIGINT) AS nr,
             CAST(sum(t) AS BIGINT) AS nt FROM pb),
    lr AS (SELECT pb.bk,
            CAST(floor(ln((CAST(pb.t + 1 AS DOUBLE) * (tot.nr + 4096.0))
                          / (CAST(pb.r + 1 AS DOUBLE) * (tot.nt + 4096.0)))
                       * 1e6 + 0.5) AS BIGINT) AS s6
           FROM pb CROSS JOIN tot),
    pd AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
            floor(CAST(sum(lr.s6) AS DOUBLE) / (count(*) * 1e6) * 1e4 + 0.5)
              / 1e4 AS dsir
           FROM bg JOIN lr ON lr.bk = bg.bk GROUP BY bg.doc_id)
    SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
           coalesce(pd.dsir, 0.0) AS dsir
    FROM documents d LEFT JOIN pd USING (doc_id)""",
    "DSIR importance score (Xie et al. NeurIPS'23 Data Selection via "
    "Importance Resampling): per-document mean log ratio of a "
    "target-domain hashed-bigram LM (sources src0-src4 as the target "
    "stand-in) over the raw-corpus LM, add-one smoothed over 4096 "
    "buckets. Every probability is a ratio of exact integers; each "
    "bucket's log ratio is ONE ln of an exact-integer cross-ratio "
    "quantized to signed integer micro-nats, and per-doc means are "
    "order-exact integer sums with one final division (the DESIGN.md "
    "rounding rule). Compose with sampling.weighted_upsample to "
    "materialize the resampled corpus. Bucket tables are "
    "4096-row broadcasts, totals a 1-row broadcast; only (bucket, "
    "count) and (doc, bucket) pairs shuffle.",
)
def q_dsir_score(spark: SparkSession, sf: str) -> DataFrame:
    return TX.dsir_score(table(spark, sf, "documents"))


@query(
    "epoch_mixture",
    """WITH w AS (SELECT doc_id, source,
      CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                  WHEN 'src2' THEN 1 ELSE 1 END AS whole,
      CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 4000
                  WHEN 'src2' THEN 7500 ELSE 0 END AS fr
      FROM documents),
    n AS (SELECT doc_id, source,
      whole + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                   || 'ep-v1'), 1, 15) AS BIGINT) % 10000 < fr
              THEN 1 ELSE 0 END AS nc FROM w),
    e AS (SELECT doc_id, source, CAST(t.epoch AS BIGINT) AS epoch
          FROM n, unnest(generate_series(0, nc - 1)) AS t(epoch)
          WHERE nc > 0)
    SELECT doc_id, source, epoch,
      CAST('0x' || substr(md5('ord|' || CAST(epoch AS VARCHAR) || '|'
           || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS ord
    FROM e""",
    "Fractional epoch mixing materialized ('2.5 epochs of src0, 0.4 of "
    "src1, 1.75 of src2, 1.0 of the rest'): every document repeats "
    "floor(w) times plus one more iff its salted hash falls under "
    "frac(w) — expected volume exactly w*n per source, byte-identical "
    "re-runs, per-stratum independence (sampling.weighted_upsample, "
    "which until now was pytest-only — this entry puts the oracle on "
    "it). Each copy carries its 0-based epoch index and a deterministic "
    "per-(epoch, doc) 60-bit shuffle key, so downstream sorts spread "
    "copies apart instead of batching them adjacently — the multi-epoch "
    "training-order composition. Scan-side sequence+explode fan-out, "
    "0 shuffles.",
)
def q_epoch_mixture(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").select("doc_id", "source")
    up = SAMP.weighted_upsample(
        d, "source", {"src0": 2.5, "src1": 0.4, "src2": 1.75},
        default_weight=1.0, key_col="doc_id", salt="ep-v1")
    return up.select("doc_id", "source",
                     F.col("epoch").cast("long").alias("epoch"),
                     SAMP.epoch_order_key().alias("ord"))


def _knn_recall_sql() -> str:
    """Oracle for knn_recall: each ANN tier's FULL registry oracle runs
    as a derived table (reused verbatim from QUERIES, so the recall
    grading can never drift from the per-tier contracts), unioned with a
    tier label, left-joined against the brute-force top-5 and aggregated
    to recall@5. Built at import time AFTER the tier entries register."""
    sub = {
        "brute": QUERIES["knn_cosine"].oracle,
        "ivf": QUERIES["knn_ivf"].oracle,
        "multiprobe": QUERIES["knn_multiprobe"].oracle,
        "pq": QUERIES["pq_knn"].oracle,
        "ivfpq": QUERIES["knn_ivfpq"].oracle,
    }
    tiers = " UNION ALL ".join(
        f"SELECT '{t}' AS tier, q_id, c_id FROM ({sql})"
        for t, sql in sub.items())
    return f"""WITH u AS ({tiers}),
    b AS (SELECT q_id, c_id FROM ({sub['brute']})),
    d AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
    SELECT u.tier, CAST(count(*) AS BIGINT) AS n_retrieved,
           CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hits,
           floor(CAST(sum(CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / d.n * 1e4 + 0.5) / 1e4 AS recall_at_5
    FROM u LEFT JOIN b ON b.q_id = u.q_id AND b.c_id = u.c_id CROSS JOIN d
    GROUP BY u.tier, d.n"""


@query(
    "knn_recall",
    _knn_recall_sql(),
    "Retrieval-quality gauge for the whole ANN ladder — the first "
    "question any index user asks: per-tier recall@5 against the "
    "brute-force cosine baseline, over the same 20 queries, as ONE "
    "composed plan (brute result lazily checkpointed once and reused as "
    "both the hit reference and the denominator; tier top-5 sets union "
    "with a label; hits are an equi-join on (q_id, c_id)). The 'brute' "
    "row is the built-in control (recall exactly 1.0). n_retrieved "
    "also surfaces bucket starvation (a tier returning < 5 per query). "
    "Scale shape: each tier is its own already-audited plan; the "
    "recall overlay adds one 100-row join and a 5-row aggregate. "
    "Oracle reuses the tier oracles verbatim as derived tables.",
)
def q_knn_recall(spark: SparkSession, sf: str) -> DataFrame:
    return _recall_ladder(table(spark, sf, "embeddings"))


def _recall_ladder(emb: DataFrame) -> DataFrame:
    """Shared recall@5 overlay (knn_recall / knn_recall_clustered): run
    every ANN tier over `emb`, grade each against the brute-force top-5
    of the same corpus."""
    from .functions import stable_round
    q = emb.filter(F.col("vec_id") < 20)
    brute = (SIM.brute_force_knn(q, emb, k=5)
             .select("q_id", "c_id").localCheckpoint(eager=False))
    tiers = [
        ("brute", brute),
        ("ivf", SIM.ivf_knn(q, emb, k=5, nprobe=2)),
        ("multiprobe", SIM.multiprobe_signlsh_knn(
            q, emb, k=5, planes=8, dim=64, probes=24, tables=3,
            max_flip=2)),
        ("pq", SIM.pq_knn(q, emb, k=5, m=4, codebook=16, iters=1, dim=64,
                          refine=SIM.auto_refine(emb.count(), 5))),
        ("ivfpq", SIM.ivfpq_knn(q, emb, k=5, nprobe=2, coarse_k=8,
                                coarse_iters=2, m=4, codebook=16,
                                pq_iters=1, dim=64,
                                refine=SIM.auto_refine(emb.count(), 5))),
    ]
    u = None
    for name, df in tiers:
        t = df.select(F.lit(name).alias("tier"), "q_id", "c_id")
        u = t if u is None else u.unionByName(t)
    hits = u.join(brute.withColumn("__hit", F.lit(1)), ["q_id", "c_id"],
                  "left")
    per = (hits.groupBy("tier")
               .agg(F.count("*").cast("long").alias("n_retrieved"),
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                     .cast("long").alias("n_hits")))
    denom = brute.agg(F.count("*").cast("long").alias("__n"))
    return (per.join(F.broadcast(denom), F.lit(True))
               .select("tier", "n_retrieved", "n_hits",
                       stable_round(F.col("n_hits").cast("double")
                                    / F.col("__n"), 4).alias("recall_at_5")))


# Clustered embedding fixture, derived IN-QUERY from the isotropic
# `embeddings` table (the driver fixtures are read-only): component j of
# vector v becomes stable_round(centroid(label, j) + v[j], 4) with
# centroid(c, j) = ((c*37 + j*29) % 19 - 9) / 48.0 — a deterministic
# mixture of 10 Gaussians whose per-component centroid spread (~0.114)
# matches the fixture's component std (~0.125), i.e. within-cluster
# cosine ~0.5: the MID-RANGE regime where every ANN tier's recall can
# move in BOTH directions (knn_recall's isotropic fixture floors
# multiprobe at 0.04, where a retrieval regression is invisible).
# Identical IEEE evaluation on both engines: integer centroid formula,
# one correctly-rounded divide, float32->double exact widening, one add,
# then stable_round(4).
_EMB_CLUSTERED_SQL = """emb_c AS (
  SELECT vec_id, label,
         list(floor((((label * 37 + j * 29) % 19 - 9) / 48.0
                     + CAST(embedding[j + 1] AS DOUBLE)) * 1e4 + 0.5) / 1e4
              ORDER BY j) AS embedding
  FROM embeddings, unnest(generate_series(0, 63)) AS t(j)
  GROUP BY vec_id, label)"""


def _clustered_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    from .functions import stable_round
    emb = table(spark, sf, "embeddings")

    def elem(x, i):
        cent = ((F.col("label").cast("long") * 37 + i * 29) % 19 - 9) \
            / F.lit(48.0)
        return stable_round(cent + x.cast("double"), 4)

    return emb.select("vec_id", "label",
                      F.transform("embedding", elem).alias("embedding"))


def _knn_recall_clustered_sql() -> str:
    """knn_recall's oracle with every tier retargeted at the clustered
    CTE: word-boundary rewrite of the `embeddings` table reference
    (verified to change each tier — oracle_patch discipline), wrapped
    under one emb_c prefix CTE visible to all tier subqueries."""
    import re
    base = _knn_recall_sql()
    out = re.sub(r"\bembeddings\b", "emb_c", base)
    if out == base or "emb_c" not in out:
        raise ValueError("embeddings retarget did not apply")
    return out.replace("WITH u AS", f"WITH {_EMB_CLUSTERED_SQL},\n    u AS",
                       1)


@query(
    "dsir_resample",
    oracle_patch(
        QUERIES["dsir_score"].oracle,
        "SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,\n"
        "           coalesce(pd.dsir, 0.0) AS dsir\n"
        "    FROM documents d LEFT JOIN pd USING (doc_id)",
        """, sc AS (SELECT d.doc_id, d.source,
           coalesce(pd.n_bigrams, 0) AS n_bigrams,
           coalesce(pd.dsir, 0.0) AS dsir
          FROM documents d LEFT JOIN pd USING (doc_id)),
    thr AS (SELECT quantile_cont(dsir, 0.75) AS t FROM sc)
    SELECT doc_id, source, n_bigrams, dsir,
           CAST('0x' || substr(md5('ord|0|' || CAST(doc_id AS VARCHAR)),
                               1, 15) AS BIGINT) AS ord
    FROM sc CROSS JOIN thr
    WHERE sc.dsir >= floor(thr.t * 1e4 + 0.5) / 1e4"""),
    "The composed DSIR pipeline end-to-end (Xie et al. NeurIPS'23): "
    "score -> select -> materialized training corpus. Selection is the "
    "deterministic top-quantile variant of the paper's importance "
    "resampling: keep documents scoring at or above the exact "
    "interpolated 75th percentile (Spark percentile == DuckDB "
    "quantile_cont on identical 4-decimal-rounded inputs — the "
    "value_percentiles bit-identity precedent), a 1-row broadcast "
    "threshold instead of a global sort; the threshold is "
    "stable_round(4)ed on BOTH engines before comparing (the "
    "value_percentiles boundary-guard pattern — Spark and DuckDB "
    "interpolate the same quantile with differently-associated "
    "arithmetic, and a 1-ULP difference at a tied boundary value would "
    "otherwise flip membership). Each kept document carries the "
    "deterministic per-(epoch=0, doc) 60-bit order key "
    "(sampling.epoch_order_key), so the output IS the shuffled "
    "training-corpus manifest. Adds one tiny aggregate + broadcast "
    "filter on top of dsir_score's audited plan; nothing new shuffles.",
)
def q_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    from .functions import stable_round
    docs = table(spark, sf, "documents")
    sc = (TX.dsir_score(docs)
          .join(docs.select("doc_id", "source"), "doc_id"))
    thr = sc.agg(F.expr("percentile(dsir, 0.75)").alias("__t"))
    return (sc.join(F.broadcast(thr), F.lit(True))
              .filter(F.col("dsir") >= stable_round(F.col("__t"), 4))
              .withColumn("epoch", F.lit(0))
              .select("doc_id", "source", "n_bigrams", "dsir",
                      SAMP.epoch_order_key().alias("ord")))


@query(
    "knn_recall_clustered",
    _knn_recall_clustered_sql(),
    "The recall ladder (knn_recall) re-run on a CLUSTERED embedding "
    "fixture derived in-query: a 10-Gaussian mixture built by adding a "
    "deterministic per-label centroid to each isotropic vector "
    "(stable_round(4) both engines; see _EMB_CLUSTERED_SQL). Centroid "
    "scale is tuned so within-cluster cosine ~0.5 — sf0.01 recall@5 "
    "as of r8: brute 1.0 > ivf 0.98 > ivfpq 0.90 (residual IVFADC + "
    "refine) > pq 0.36 > multiprobe 0.33 (2 tables), all mid-range "
    "with headroom in BOTH directions, unlike the isotropic fixture "
    "where single-table multiprobe floors at 0.04 and a real retrieval "
    "regression cannot move the number. Tier ordering and perturbation "
    "sensitivity (nprobe 1/2/4 monotone; single-table probes 1/3/6 -> "
    "0.06/0.17/0.23) are pinned in tests/test_dedup_similarity. "
    "Scale shape: identical to knn_recall plus one scan-side transform "
    "(no extra shuffle; the clustered corpus is never materialized).",
)
def q_knn_recall_clustered(spark: SparkSession, sf: str) -> DataFrame:
    return _recall_ladder(_clustered_embeddings(spark, sf))


def _gopher_sql() -> str:
    from .operators.text import GOPHER_STOPWORDS
    sw = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    wpl = TX.WORDS_PER_LINE
    return rf"""WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS ws
         FROM documents),
    base AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
             greatest(CAST(ceil(len(ws) / {wpl}.0) AS INT), 1) AS n_lines FROM tk),
    ln AS (SELECT doc_id, ws, n_words,
           list_transform(generate_series(0, n_lines - 1), i ->
             (CASE WHEN (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END)
             || array_to_string(list_slice(ws, i*{wpl}+1, i*{wpl}+{wpl}), ' ')
             || (CASE WHEN (doc_id + i) % 5 = 0 THEN '...' ELSE '' END)) AS ls
           FROM base),
    m AS (SELECT doc_id, n_words,
       CASE WHEN n_words = 0 THEN 0.0 ELSE
         floor(list_aggregate(list_transform(ws, x -> length(x)), 'sum')
               / CAST(n_words AS DOUBLE) * 10000 + 0.5) / 10000 END AS mean_word_len,
       CASE WHEN n_words = 0 THEN 0.0 ELSE
         floor(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / n_words * 10000 + 0.5) / 10000 END AS frac_alpha_words,
       CASE WHEN n_words = 0 THEN 0.0 ELSE
         floor(CAST(len(regexp_extract_all(array_to_string(ls, chr(10)), '#'))
                    + len(regexp_extract_all(array_to_string(ls, chr(10)), '\.\.\.')) AS DOUBLE)
               / n_words * 10000 + 0.5) / 10000 END AS symbol_ratio,
       floor(CAST(len(list_filter(ls, l -> l LIKE '- %')) AS DOUBLE)
             / len(ls) * 10000 + 0.5) / 10000 AS frac_bullet_lines,
       floor(CAST(len(list_filter(ls, l -> l LIKE '%...')) AS DOUBLE)
             / len(ls) * 10000 + 0.5) / 10000 AS frac_ellipsis_lines,
       CAST(len(list_intersect(list_distinct(ws), [{sw}])) AS BIGINT) AS stopword_hits
       FROM ln)
    SELECT *,
      (rule_word_count AND rule_word_len AND rule_symbols AND rule_bullets
       AND rule_ellipsis AND rule_alpha AND rule_stopwords) AS kept
    FROM (SELECT *,
       n_words BETWEEN 50 AND 100000 AS rule_word_count,
       mean_word_len BETWEEN 3.0 AND 10.0 AS rule_word_len,
       symbol_ratio <= 0.1 AS rule_symbols,
       frac_bullet_lines <= 0.9 AS rule_bullets,
       frac_ellipsis_lines <= 0.3 AS rule_ellipsis,
       frac_alpha_words >= 0.8 AS rule_alpha,
       stopword_hits >= 2 AS rule_stopwords
     FROM m)"""


@query(
    "gopher_rules",
    _gopher_sql(),
    "Gopher quality-filter rule battery (Rae et al. 2021, A1.1): "
    "word-count bounds, mean-word-length bounds, symbol-to-word ratio, "
    "bullet/ellipsis line fractions, alphabetic-word fraction and the "
    "8-stopword rule, per document, with the combined kept verdict — "
    "the published heuristic gate corpus builds run BEFORE dedup "
    "(corpus_prep's ad-hoc gate, upgraded to the published battery). "
    "Pure Column expressions at scan speed, nothing shuffles. The "
    "fixture corpus is single-line, so the line-level rules run on a "
    "deterministic derived line structure (12-word wrap + (doc_id+i)%7 "
    "bullet / %5 ellipsis injection, identical in the oracle — the "
    "pii_redact pattern); the predicates themselves are the real "
    "checks a multi-line corpus would hit unchanged.",
)
def q_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    return TX.gopher_rules(table(spark, sf, "documents"))


#: clusters, k-means iterations and per-cluster quota of cluster_sample,
#: one set for the Spark query and its oracle
_CS_K, _CS_ITERS, _CS_QUOTA = 8, 2, 20


def _cluster_sample_sql() -> str:
    return f"""WITH {_kmeans_ctes(_CS_K, _CS_ITERS)},
    lab AS (SELECT vec_id, cid AS cluster FROM a{_CS_ITERS}),
    sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_in_cluster
           FROM lab GROUP BY cluster),
    r AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
            ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'csmp'), 1, 15) AS BIGINT),
                     vec_id) AS rn
          FROM lab)
    SELECT r.vec_id, r.cluster, sz.n_in_cluster, CAST(rn AS BIGINT) AS rn
    FROM r JOIN sz USING (cluster) WHERE rn <= {_CS_QUOTA}"""


@query(
    "cluster_sample",
    _cluster_sample_sql(),
    "Cluster-balanced subsampling — the learned-strata analog of "
    "reservoir_per_stratum and the shape diversity-preserving corpus "
    "curation runs (cap each semantic cluster at a quota instead of "
    "letting head topics dominate a uniform sample): k-means assigns "
    "every embedding to one of 8 clusters (kmeans_train's exact "
    "arithmetic — broadcast centroids, corpus never shuffled during "
    "training), then each cluster keeps its 20 smallest by the portable "
    "md5(vec_id||'csmp') permutation, with the cluster's total size "
    "attached for selection-bias accounting. The quota rank compiles to "
    "WindowGroupLimit (map tasks forward at most quota rows per "
    "cluster); at 100 TB with few clusters the per-cluster exchange "
    "would skew, so the scale path raises k with the corpus (the CTE "
    "parameterizes it) or two-phases the quota like global_shuffle — "
    "the 8-cluster fixture keeps the oracle tractable. Oracle: the "
    "shared kmeans CTEs + identical hash-rank arithmetic.",
)
def q_cluster_sample(spark: SparkSession, sf: str) -> DataFrame:
    return SAMP.cluster_quota_sample(table(spark, sf, "embeddings"),
                                     k=_CS_K, iters=_CS_ITERS,
                                     quota=_CS_QUOTA)


# ---------------------------------------------------------------------------
# sparse lexical retrieval (BM25) — operators/retrieval.py

# Shared BM25 oracle stages, mirroring operators/retrieval.py
# expression-for-expression: K1/B appear as the identical decimal
# literals both engines parse to the same doubles (2.2 == 1.2 + 1.0
# bit-exactly, probed); idf quantizes ONCE per term to integer
# micro-nats (the only ln); each posting impact multiplies that integer
# by the exact IEEE tf-saturation ratio and floors straight back to an
# integer, so per-document scores are order-exact integer sums.
_BM25_CTES = f"""tk AS (SELECT doc_id, word FROM ({SQL_TOKENS}) WHERE word <> ''),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM tk GROUP BY doc_id, word),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM dl),
    dft AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    idf AS (SELECT word,
        CAST(floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5)
             AS BIGINT) AS idf6,
        avgdl FROM dft CROSS JOIN st),
    post AS (SELECT tf.word, tf.doc_id, tf.tf,
        CAST(floor(CAST(idf.idf6 AS DOUBLE)
            * (CAST(tf.tf AS DOUBLE) * 2.2
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / idf.avgdl))))
            + 0.5) AS BIGINT) AS w6
      FROM tf JOIN dl USING (doc_id) JOIN idf USING (word)),
    qt AS (SELECT DISTINCT doc_id AS q_id, word FROM tk WHERE doc_id < 20),
    sc AS (SELECT qt.q_id, post.doc_id AS c_id, sum(post.w6) AS s6
           FROM qt JOIN post USING (word) WHERE post.doc_id <> qt.q_id
           GROUP BY 1, 2),
    rk AS (SELECT q_id, c_id, s6,
             row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id)
               AS rnk
           FROM sc)"""

_BM25_PRUNED_CTES = """re AS (SELECT greatest(CAST(32 AS BIGINT),
             CAST(ceil(CAST(count(DISTINCT doc_id) AS DOUBLE) / 5.0)
                  AS BIGINT)) AS r_eff FROM post),
    pn AS (SELECT word, doc_id,
             row_number() OVER (PARTITION BY word ORDER BY w6 DESC, doc_id)
               AS rn
           FROM post),
    pr AS (SELECT word, doc_id FROM pn CROSS JOIN re WHERE rn <= r_eff),
    cand AS (SELECT DISTINCT qt.q_id, pr.doc_id AS c_id
             FROM qt JOIN pr USING (word) WHERE pr.doc_id <> qt.q_id),
    rr AS (SELECT cand.q_id, cand.c_id, sum(post.w6) AS s6
           FROM cand JOIN qt USING (q_id)
           JOIN post ON post.word = qt.word AND post.doc_id = cand.c_id
           GROUP BY 1, 2),
    rk2 AS (SELECT q_id, c_id, s6,
              row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id)
                AS rnk
            FROM rr)"""

_BM25_SELECT = """SELECT q_id, c_id,
      floor(CAST(s6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS score,
      CAST(rnk AS BIGINT) AS rnk
    FROM {src} WHERE rnk <= 5"""


@query(
    "bm25_topk",
    f"WITH {_BM25_CTES}\n    " + _BM25_SELECT.format(src="rk"),
    "Exact BM25 top-5 for 20 query documents — the sparse-lexical "
    "counterpart of knn_cosine (retrieval-based decontamination, "
    "targeted corpus slicing and hybrid dense+sparse curation all "
    "start here). Distributed shape: the classic sharded inverted "
    "index — tf/df/dl are word- and doc-keyed linear aggregations, "
    "scoring is ONE word-keyed equi-join of query terms against the "
    "postings table, never anything quadratic in the corpus (the "
    "31-word fixture vocabulary makes every posting list corpus-length "
    "— the worst case — and the plan is still linear). idf quantizes "
    "once per TERM to integer micro-nats (the only ln, at vocabulary "
    "scale); per-posting impacts floor back to integers so document "
    "scores are order-exact integer sums; ranking ties break on the "
    "raw integer then ascending doc id (operators/retrieval.py).",
)
def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    return RET.bm25_topk(table(spark, sf, "documents"))


@query(
    "bm25_pruned",
    f"WITH {_BM25_CTES},\n    {_BM25_PRUNED_CTES}\n    "
    + _BM25_SELECT.format(src="rk2"),
    "Impact-ordered static index pruning (Carmel et al. SIGIR'01, the "
    "WAND-lite scale path): BM25 impacts depend only on (term, doc), "
    "so the index prunes OFFLINE to the top-r_eff postings per term "
    "(a word-keyed WindowGroupLimit); serving touches at most "
    "r_eff * |query terms| candidates per query — corpus-size "
    "independent, the sparse analog of IVF probing — then "
    "exact-reranks only those candidates via (doc, word)-keyed "
    "equi-joins against the full postings table. r_eff = "
    "greatest(32, ceil(n_docs/5)) — the auto_refine pattern: the "
    "uniform word-salad fixture is the static-pruning worst case "
    "(per-term impacts barely discriminate; measured recall@5 knee at "
    "sf0.01: r=64 -> 0.88, r=96 -> 1.0), a zipfian production corpus "
    "keeps far less, and bm25_recall gauges whatever is chosen.",
)
def q_bm25_pruned(spark: SparkSession, sf: str) -> DataFrame:
    return RET.bm25_pruned(table(spark, sf, "documents"))


@query(
    "bm25_recall",
    f"""WITH {_BM25_CTES},
    {_BM25_PRUNED_CTES},
    ex AS (SELECT q_id, c_id FROM rk WHERE rnk <= 5),
    px AS (SELECT q_id, c_id FROM rk2 WHERE rnk <= 5),
    hx AS (SELECT e.q_id, CASE WHEN p.c_id IS NULL THEN 0 ELSE 1 END AS hit
           FROM ex e LEFT JOIN px p ON p.q_id = e.q_id AND p.c_id = e.c_id)
    SELECT q_id, CAST(sum(hit) AS DOUBLE) / count(*) AS recall_at_k
    FROM hx GROUP BY q_id""",
    "Recall@5 of the pruned BM25 tier against the exact baseline, per "
    "query — the knn_recall grading pattern for the sparse family: the "
    "pruned index's quality can never drift unmeasured, and the oracle "
    "composes both tiers' CTEs verbatim so the gauge can never drift "
    "from the per-tier contracts.",
)
def q_bm25_recall(spark: SparkSession, sf: str) -> DataFrame:
    return RET.bm25_recall(table(spark, sf, "documents"))


@query(
    "line_dedup",
    r"""WITH t AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws
      FROM documents),
    lx AS (SELECT doc_id, i AS idx,
        coalesce(array_to_string(ws[(i*12+1):(i*12+12)], ' '), '') AS line
      FROM t, unnest(generate_series(0,
            CAST(greatest(ceil(len(ws) / 12.0), 1) AS BIGINT) - 1)) AS u(i)),
    lh AS (SELECT doc_id, idx, line,
        CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS h FROM lx),
    dup AS (SELECT h, 1 AS dd FROM lh GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2),
    fl AS (SELECT lh.doc_id, lh.idx, lh.line,
        CASE WHEN dup.dd IS NULL THEN 0 ELSE 1 END AS dp
      FROM lh LEFT JOIN dup USING (h))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(1 - dp) AS BIGINT) AS n_kept,
      coalesce(string_agg(CASE WHEN dp = 0 THEN line END, chr(10)
                          ORDER BY idx), '') AS clean_text
    FROM fl GROUP BY doc_id""",
    "Cross-document duplicate-line removal — the RefinedWeb/CCNet "
    "boilerplate pass (run corpus-wide before fuzzy dedup: headers, "
    "footers and nav chrome repeat across documents): any line in >= 2 "
    "DISTINCT documents is cut everywhere, survivors rejoin in "
    "original order. One corpus scan explodes (doc, idx, line) with "
    "the portable 60-bit line hash; detection is ONE hash-keyed "
    "count-distinct (linear, the wordcount shuffle — never pairwise); "
    "reassembly is one doc-keyed ordered aggregation. The fixture is "
    "single-line prose, so lines derive deterministically (12-word "
    "wraps, the gopher_rules convention but UNdecorated so identical "
    "runs in different documents produce identical lines — the "
    "property cross-doc line dedup needs; near-duplicate fixture docs "
    "supply real shared lines).",
)
def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    return TX.line_dedup(table(spark, sf, "documents"))


@query(
    "nb_quality_filter",
    r"""WITH t AS (SELECT doc_id,
        (doc_id % 5) <> 0 AS is_train,
        source IN ('src0','src1','src2','src3','src4') AS is_target,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws
      FROM documents),
    bg AS (SELECT doc_id, is_train, is_target, ws[i] || ' ' || ws[i+1] AS word
           FROM t, unnest(generate_series(1, len(ws) - 1)) AS u(i)
           WHERE len(ws) >= 2),
    cw AS (SELECT word,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS c0
           FROM bg WHERE is_train GROUP BY word),
    gl AS (SELECT sum(c1) AS tot1, sum(c0) AS tot0, count(*) AS v FROM cw),
    nd AS (SELECT sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS n0
           FROM t WHERE is_train),
    wt AS (SELECT word,
             CASE WHEN nd.n1 > 0 AND nd.n0 > 0 THEN
               CAST(floor(ln((CAST(c1 + 1 AS DOUBLE) * CAST(tot0 + v AS DOUBLE))
                           / (CAST(c0 + 1 AS DOUBLE) * CAST(tot1 + v AS DOUBLE)))
                    * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END AS w6
           FROM cw CROSS JOIN gl CROSS JOIN nd),
    pri AS (SELECT CASE WHEN n1 > 0 AND n0 > 0 THEN
              CAST(floor(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1e6
                         + 0.5) AS BIGINT)
            ELSE 0 END AS p6 FROM nd),
    ds AS (SELECT bg.doc_id, sum(coalesce(wt.w6, 0)) AS sw
           FROM bg LEFT JOIN wt USING (word) GROUP BY bg.doc_id),
    sc AS (SELECT t.doc_id, t.is_train, t.is_target,
             coalesce(ds.sw, 0) + pri.p6 AS s6
           FROM t LEFT JOIN ds USING (doc_id) CROSS JOIN pri)
    SELECT doc_id, is_train, is_target,
      floor(CAST(s6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS score,
      s6 > 0 AS pred_target
    FROM sc""",
    "Model-based quality filter, the fastText/DCLM classifier tier "
    "(DCLM trains a linear classifier to separate a curated target "
    "domain from the raw corpus and keeps high scorers; FineWeb-Edu is "
    "the same shape): multinomial Naive Bayes log-odds over word "
    "BIGRAMS — the DISCRIMINATIVE counterpart of dsir_score (the exact "
    "family the DSIR paper benchmarks against), sharing its fixture "
    "target (src0-src4). Trains only on the ~80% split (doc_id % 5 != "
    "0), scores EVERY document. One ln per train-vocabulary bigram "
    "over an exact integer cross-ratio, quantized to micro-nats; "
    "per-doc scores are prior + order-exact integer sums (the "
    "dsir_score arithmetic). The synthetic fixture draws every source "
    "from one distribution, so no text model separates sources "
    "out-of-sample HERE; the learning property (held-out "
    "target-dialect doc scores positive, off-dialect negative) is "
    "pinned by the synthetic-dialect unit test, the dsir_score "
    "precedent (tests/test_retrieval_nb.py).",
)
def q_nb_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    return TX.nb_quality(table(spark, sf, "documents"))


@query(
    "nb_filter_join",
    oracle_patch(QUERIES["nb_quality_filter"].oracle,
                 "SELECT doc_id, is_train, is_target,\n      floor",
                 "SELECT doc_id,\n      floor"),
    "nb_quality_filter's open-vocabulary scale path: the same trained "
    "NB model kept in TABLE form (operators/text.py:nb_weights_table — "
    "the persistable (bigram, w6) weights plus the genuinely-scalar "
    "1-row prior) and applied through apply_nb_table's hash-partitioned "
    "feature-keyed equi-join (shuffle_hash hinted so the unbounded "
    "weight table is never broadcast) + doc-keyed integer sum. At web "
    "scale the train-bigram table outgrows any broadcast budget; this "
    "path never folds it into nb_model's 1-row map. Scores "
    "byte-identical to apply_nb over the folded codec "
    "(crossover-tested); the oracle is nb_quality_filter's scoring "
    "surface minus the split labels. score_nb dispatches per measured "
    "model size.",
)
def q_nb_filter_join(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    w, p = TX.nb_weights_table(docs)
    return TX.apply_nb_table(docs, w, p)


@query(
    "nb_filter_hashed",
    oracle_patch(
        QUERIES["nb_quality_filter"].oracle,
        "bg AS (SELECT doc_id, is_train, is_target, "
        "ws[i] || ' ' || ws[i+1] AS word",
        "bg AS (SELECT doc_id, is_train, is_target,\n"
        "           CAST('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), "
        "1, 15) AS BIGINT) % 4096 AS word"),
    "nb_quality_filter with the BOUNDED-feature model (VERDICT r12 "
    "item 6): every bigram hashes into 4096 buckets via the shared "
    "portable 60-bit md5 hash BEFORE training and scoring (the "
    "dsir_score bucket convention; operators/text.py:nb_bucket), so "
    "the persisted model artifact has a FIXED upper size at any "
    "corpus — the hashing trick (Weinberger et al. ICML'09): "
    "colliding bigrams merge their class counts, trading a bounded "
    "amount of weight blending for a size-invariant codec (the r12 "
    "join fallback bounds the APPLY; this bounds the MODEL). Same "
    "train/score plan as nb_quality_filter with the hash folded into "
    "the one tokenize scan; the oracle shares the bucket arithmetic. "
    "Collision tolerance (tiny-bucket model still exactly matches the "
    "python replica of the bucketed math) is property-tested.",
)
def q_nb_filter_hashed(spark: SparkSession, sf: str) -> DataFrame:
    return TX.nb_quality(table(spark, sf, "documents"), n_buckets=4096)


@query(
    "hybrid_rrf",
    f"""WITH {_BM25_CTES},
    eq AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 20),
    ec AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
    esc AS (SELECT q_id, c_id,
              floor(list_cosine_similarity(qv, cv) * 1e6 + 0.5) / 1e6 AS d6
            FROM eq CROSS JOIN ec WHERE q_id <> c_id),
    rkd AS (SELECT q_id, c_id,
              row_number() OVER (PARTITION BY q_id ORDER BY d6 DESC, c_id)
                AS rnk
            FROM esc),
    ex AS (SELECT q_id, c_id, rnk FROM rk WHERE rnk <= 5),
    dx AS (SELECT q_id, c_id, rnk FROM rkd WHERE rnk <= 5),
    fu AS (SELECT coalesce(ex.q_id, dx.q_id) AS q_id,
             coalesce(ex.c_id, dx.c_id) AS c_id,
             coalesce(CAST(floor(1e6 / (60.0 + CAST(ex.rnk AS DOUBLE)) + 0.5)
                           AS BIGINT), 0)
           + coalesce(CAST(floor(1e6 / (60.0 + CAST(dx.rnk AS DOUBLE)) + 0.5)
                           AS BIGINT), 0) AS s6
           FROM ex FULL OUTER JOIN dx
             ON ex.q_id = dx.q_id AND ex.c_id = dx.c_id)
    SELECT q_id, c_id, CAST(s6 AS DOUBLE) / 1e6 AS rrf_score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT q_id, c_id, s6,
            row_number() OVER (PARTITION BY q_id ORDER BY s6 DESC, c_id)
              AS rnk
          FROM fu) z
    WHERE rnk <= 5""",
    "Hybrid dense+sparse retrieval via reciprocal-rank fusion (Cormack "
    "et al. SIGIR'09, the production-default combiner): fuse "
    "knn_cosine's top-5 (embeddings) with bm25_topk's top-5 "
    "(documents; the fixture pairs vec_id/doc_id) as sum of "
    "1/(60 + rank) — rank-based, so no score calibration across "
    "heterogeneous scales (cosine vs BM25 micro-nats) is needed. Each "
    "contribution quantizes to integer micro-units BEFORE the sum, so "
    "fused scores are exact integer sums with (fused desc, c_id) "
    "tie-break. The fusion itself is a (q_id, c_id)-keyed full-outer "
    "join of two k-row-per-query lists — query-batch-bounded, "
    "corpus-size independent; the oracle composes both tiers' CTEs "
    "verbatim so fusion parity rides the per-tier contracts.",
)
def q_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings")
    dense = SIM.brute_force_knn(emb.filter(F.col("vec_id") < 20), emb, k=5)
    sparse = RET.bm25_topk(table(spark, sf, "documents"))
    return RET.hybrid_rrf(dense, sparse)


@query(
    "quantile_sketch",
    """WITH s AS (SELECT event_type, value FROM events
      WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'qsk'), 1, 15)
                 AS BIGINT) % 16 = 0),
    est AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
              quantile_cont(value, [0.5, 0.9]) AS qs
            FROM s GROUP BY event_type),
    f AS (SELECT e.event_type, est.m, est.qs[1] AS p50r, est.qs[2] AS p90r,
            CAST(count(*) AS BIGINT) AS n,
            sum(CASE WHEN e.value <= est.qs[1] THEN 1 ELSE 0 END) AS le50,
            sum(CASE WHEN e.value <= est.qs[2] THEN 1 ELSE 0 END) AS le90
          FROM events e JOIN est USING (event_type)
          GROUP BY 1, 2, 3, 4),
    g AS (SELECT event_type, n, m,
            floor(p50r * 1e4 + 0.5) / 1e4 AS p50_est,
            floor(p90r * 1e4 + 0.5) / 1e4 AS p90_est,
            floor(abs(CAST(le50 AS DOUBLE) / CAST(n AS DOUBLE) - 0.5) * 1e6
                  + 0.5) / 1e6 AS p50_rank_err,
            floor(abs(CAST(le90 AS DOUBLE) / CAST(n AS DOUBLE) - 0.9) * 1e6
                  + 0.5) / 1e6 AS p90_rank_err,
            floor(3.0 / sqrt(CAST(m AS DOUBLE)) * 1e6 + 0.5) / 1e6
              AS rank_bound
          FROM f)
    SELECT event_type, n, m, p50_est, p90_est, p50_rank_err, p90_rank_err,
           rank_bound,
           (p50_rank_err <= rank_bound AND p90_rank_err <= rank_bound)
             AS within_bound
    FROM g""",
    "Bounded-memory quantile estimation with an in-query error gauge — "
    "the approximate tier value_percentiles' doc promises at 100 TB, "
    "with the budget MEASURED instead of assumed (the approx_distinct "
    "error-bound pattern, completing the sketch family: CMS counts, "
    "HLL cardinality, now quantiles): a deterministic 1/16 hash sample "
    "(one scan-side predicate, mergeable across shards by "
    "construction — sample membership is a pure row property), exact "
    "interpolated p50/p90 of the sample (the value_percentiles "
    "engine-parity contract), then each estimate's realized rank error "
    "|rank(est)/n - p| from one conditional aggregate, compared to the "
    "3/sqrt(m) uniform-sample bound per type. Two linear scans, one "
    "tiny shuffle on the type handful; rank errors are exact-integer "
    "ratios quantized at 6dp, sqrt is correctly rounded "
    "(operators/sketch.py:quantile_sketch).",
)
def q_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    return SKC.quantile_sketch(table(spark, sf, "events"))


@query(
    "bm25_gate",
    f"""WITH {_BM25_CTES},
    {_BM25_PRUNED_CTES},
    nt AS (SELECT doc_id AS new_id, word FROM tk WHERE doc_id < 20
           GROUP BY 1, 2),
    g AS (SELECT nt.new_id, pr.doc_id AS c_id, sum(post.w6) AS s6
          FROM nt JOIN pr ON pr.word = nt.word
          JOIN post ON post.word = pr.word AND post.doc_id = pr.doc_id
          WHERE pr.doc_id <> nt.new_id
          GROUP BY 1, 2)
    SELECT new_id, c_id,
      floor(CAST(s6 AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS score
    FROM g WHERE s6 >= 3000000""",
    "The ingest-time retrieval gate in batch form (the exact semantics "
    "streaming runs stateless, test_bm25_gate_runs_on_stream_equals_"
    "batch): each arriving document (the 20 query docs standing in for "
    "an ingest batch) probes the impact-pruned index and is flagged "
    "against every corpus document whose pruned-index BM25 score over "
    "the arrival's distinct terms reaches tau=3.0 — the lexical "
    "dedup/decontamination admission check run BEFORE a document "
    "enters the corpus (the sparse sibling of stream_near_dup). "
    "Spark folds the arrival's sorted terms over the candidate's "
    "carried word->impact map with first-shared-word exactly-once "
    "dedup (zero state); the oracle computes the identical shared-term "
    "sum relationally over the pruned postings, so parity also proves "
    "the stateless fold == the relational aggregate "
    "(operators/retrieval.py:bm25_gate).",
)
def q_bm25_gate(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return RET.bm25_gate(docs.filter(F.col("doc_id") < 20),
                         RET.bm25_gate_index(docs), tau=3.0)


def _ingest_funnel_sql() -> str:
    """The composed ingest-path oracle: the (patched) gopher battery as
    a subquery over arriving docs, plus fresh CTEs for the three
    offline artifacts trained on the EXISTING corpus (boilerplate line
    set, NB model, pruned BM25 gate index) applied to the arriving
    batch's CLEANED text — mirroring operators/text.py:ingest_funnel
    stage for stage."""
    gop = oracle_patch(
        oracle_patch(QUERIES["gopher_rules"].oracle,
                     "n_words BETWEEN 50 AND 100000",
                     "n_words BETWEEN 25 AND 100000"),
        "stopword_hits >= 2", "stopword_hits >= 1")
    return r"""WITH gop AS (SELECT doc_id, kept AS g_gopher
               FROM (""" + gop + r""") gq WHERE doc_id % 10 = 7),
    -- boilerplate line set from the EXISTING corpus (boiler_codec)
    ext AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents WHERE doc_id % 10 <> 7),
    exl AS (SELECT doc_id,
        coalesce(array_to_string(ws[(i*12+1):(i*12+12)], ' '), '') AS line
      FROM ext, unnest(generate_series(0,
            CAST(greatest(ceil(len(ws) / 12.0), 1) AS BIGINT) - 1)) AS u(i)),
    bl AS (SELECT CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS h
           FROM exl GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
    -- line filter applied to the ARRIVING batch (apply_line_filter)
    art AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents WHERE doc_id % 10 = 7),
    arl AS (SELECT doc_id, i AS idx,
        coalesce(array_to_string(ws[(i*12+1):(i*12+12)], ' '), '') AS line
      FROM art, unnest(generate_series(0,
            CAST(greatest(ceil(len(ws) / 12.0), 1) AS BIGINT) - 1)) AS u(i)),
    arf AS (SELECT arl.doc_id, arl.idx, arl.line,
              (bl.h IS NULL) AS keep
            FROM arl LEFT JOIN bl
              ON bl.h = CAST('0x' || substr(md5(arl.line), 1, 15) AS BIGINT)),
    lfa AS (SELECT doc_id,
              sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept,
              coalesce(string_agg(line, chr(10) ORDER BY idx)
                         FILTER (WHERE keep), '') AS clean_text
            FROM arf GROUP BY doc_id),
    -- NB model trained on the EXISTING corpus (nb_model)
    tnb AS (SELECT doc_id,
        (doc_id % 5) <> 0 AS is_train,
        source IN ('src0','src1','src2','src3','src4') AS is_target,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents WHERE doc_id % 10 <> 7),
    bge AS (SELECT doc_id, is_train, is_target, ws[i] || ' ' || ws[i+1]
              AS word
            FROM tnb, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE len(ws) >= 2),
    cw AS (SELECT word,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS c0
           FROM bge WHERE is_train GROUP BY word),
    gl AS (SELECT sum(c1) AS tot1, sum(c0) AS tot0, count(*) AS v FROM cw),
    nd AS (SELECT sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN NOT is_target THEN 1 ELSE 0 END) AS n0
           FROM tnb WHERE is_train),
    wt AS (SELECT word,
             CASE WHEN nd.n1 > 0 AND nd.n0 > 0 THEN
               CAST(floor(ln((CAST(c1 + 1 AS DOUBLE) * CAST(tot0 + v AS DOUBLE))
                           / (CAST(c0 + 1 AS DOUBLE) * CAST(tot1 + v AS DOUBLE)))
                    * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END AS w6
           FROM cw CROSS JOIN gl CROSS JOIN nd),
    pri AS (SELECT CASE WHEN n1 > 0 AND n0 > 0 THEN
              CAST(floor(ln(CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE)) * 1e6
                         + 0.5) AS BIGINT)
            ELSE 0 END AS p6 FROM nd),
    -- NB scoring over the arriving batch's CLEANED text (apply_nb)
    aws AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(clean_text), '\s+'),
                    x -> x <> '') AS ws FROM lfa),
    abg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS word
            FROM aws, unnest(generate_series(1, len(ws) - 1)) AS u(i)
            WHERE len(ws) >= 2),
    ads AS (SELECT abg.doc_id, sum(coalesce(wt.w6, 0)) AS sw
            FROM abg LEFT JOIN wt USING (word) GROUP BY abg.doc_id),
    anb AS (SELECT aws.doc_id,
              (coalesce(ads.sw, 0) + pri.p6 > 0) AS g_nb
            FROM aws LEFT JOIN ads USING (doc_id) CROSS JOIN pri),
    -- pruned BM25 gate index over the EXISTING corpus (bm25_gate_index)
    etk AS (SELECT doc_id, word
            FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text),
                    '\s+')) AS word
                  FROM documents WHERE doc_id % 10 <> 7)
            WHERE word <> ''),
    etf AS (SELECT doc_id, word, count(*) AS tf FROM etk
            GROUP BY doc_id, word),
    edl AS (SELECT doc_id, sum(tf) AS dl FROM etf GROUP BY doc_id),
    est AS (SELECT count(*) AS n_docs,
              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
            FROM edl),
    edf AS (SELECT word, count(*) AS df FROM etf GROUP BY word),
    eidf AS (SELECT word,
        CAST(floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5)) * 1e6 + 0.5)
             AS BIGINT) AS idf6,
        avgdl FROM edf CROSS JOIN est),
    epost AS (SELECT etf.word, etf.doc_id, etf.tf,
        CAST(floor(CAST(eidf.idf6 AS DOUBLE)
            * (CAST(etf.tf AS DOUBLE) * 2.2
               / (CAST(etf.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * (CAST(edl.dl AS DOUBLE)
                                          / eidf.avgdl))))
            + 0.5) AS BIGINT) AS w6
      FROM etf JOIN edl USING (doc_id) JOIN eidf USING (word)),
    epn AS (SELECT word, doc_id,
              row_number() OVER (PARTITION BY word ORDER BY w6 DESC, doc_id)
                AS rn
            FROM epost),
    epr AS (SELECT word, doc_id FROM epn WHERE rn <= 128),
    -- the arriving batch probes the gate with its cleaned distinct terms
    aqt AS (SELECT DISTINCT new_id, word FROM
              (SELECT doc_id AS new_id, unnest(ws) AS word FROM aws)),
    ahit AS (SELECT aqt.new_id
             FROM aqt JOIN epr ON epr.word = aqt.word
             JOIN epost ON epost.word = epr.word
               AND epost.doc_id = epr.doc_id
             WHERE epr.doc_id <> aqt.new_id
             GROUP BY aqt.new_id, epr.doc_id
             HAVING sum(epost.w6) >= 5500000),
    adm AS (SELECT DISTINCT new_id AS doc_id FROM ahit),
    fl AS (SELECT g.doc_id, g.g_gopher,
             (lfa.n_kept > 0) AS g_line, anb.g_nb,
             (adm.doc_id IS NULL) AS g_admit
           FROM gop g JOIN lfa USING (doc_id) JOIN anb USING (doc_id)
           LEFT JOIN adm USING (doc_id))
    SELECT CAST(count(*) AS BIGINT) AS n_arrived,
      CAST(sum(CASE WHEN g_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher,
      CAST(sum(CASE WHEN g_gopher AND g_line THEN 1 ELSE 0 END) AS BIGINT)
        AS n_line,
      CAST(sum(CASE WHEN g_gopher AND g_line AND g_nb THEN 1 ELSE 0 END)
        AS BIGINT) AS n_nb,
      CAST(sum(CASE WHEN g_gopher AND g_line AND g_nb AND g_admit
        THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM fl"""


@query(
    "ingest_funnel",
    _ingest_funnel_sql(),
    "The COMPOSED ingest path as one yield funnel (the pipeline_funnel "
    "counting shape over the audited gates): an arriving batch "
    "(doc_id % 10 = 7) flows arrive -> Gopher battery -> boilerplate "
    "line filter -> NB quality filter (scored on the CLEANED text) -> "
    "BM25 lexical admission, with every offline artifact (boiler line "
    "set, NB model, pruned gate index) trained on the EXISTING corpus "
    "only. Spark side: ONE stateless chained scan for the first three "
    "gates (gopher threads text through; the _chained forms append "
    "their columns — zero self-joins, so the identical chain runs on "
    "the ingest stream, streaming/pipelines.py:streaming_ingest_funnel) "
    "plus the gate probe and a batch-side admission anti-join. The "
    "gate index uses the FIXED top-128-per-term bound (keep_denom="
    "None), not the adaptive fraction: the arriving batch scales WITH "
    "the corpus, so a fractional bound makes gate work O(n^2) — the "
    "sf1 decade step measured 34x before the switch, ~linear after "
    "(operators/retrieval.py:pruned_postings). Thresholds fixture-"
    "adapted and documented (min_words 25, min_stopwords 1 — the "
    "corpus carries one Gopher stopword; tau 5.5 sits inside the "
    "observed hit-score range so both admission edges are exercised). "
    "Survivor counts per stage in cascade order "
    "(operators/text.py:ingest_funnel).",
)
def q_ingest_funnel(spark: SparkSession, sf: str) -> DataFrame:
    docs = table(spark, sf, "documents")
    return TX.ingest_funnel(docs.filter(F.col("doc_id") % 10 == 7),
                            docs.filter(F.col("doc_id") % 10 != 7),
                            tau=5.5)


@query(
    "corpus_report",
    r"""WITH base AS (SELECT doc_id, lang, source,
        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                        x -> x <> '')) AS n
      FROM documents),
    m1 AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        CAST(sum(n) AS DOUBLE) AS total_tokens,
        floor(CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e6 + 0.5)
          / 1e6 AS mean_doc_tokens,
        floor((1.0 - CAST(count(DISTINCT fp) AS DOUBLE)
               / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6
          AS exact_dup_rate,
        floor(CAST(sum(CASE WHEN n >= 50 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
          AS wordgate_pass_rate,
        CAST(count(DISTINCT source) AS DOUBLE) AS n_sources
      FROM base),
    m2 AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS distinct_words
           FROM ({SQLTOK}) WHERE word <> ''),
    t AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents),
    lx AS (SELECT doc_id,
        coalesce(array_to_string(ws[(i*12+1):(i*12+12)], ' '), '') AS line
      FROM t, unnest(generate_series(0,
            CAST(greatest(ceil(len(ws) / 12.0), 1) AS BIGINT) - 1)) AS u(i)),
    lh AS (SELECT doc_id,
        CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS h FROM lx),
    dup AS (SELECT h FROM lh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    ld AS (SELECT floor((1.0 - CAST(sum(CASE WHEN dup.h IS NULL THEN 1
                                        ELSE 0 END) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS boiler_line_rate
           FROM lh LEFT JOIN dup ON lh.h = dup.h)
    SELECT m.* FROM (
      SELECT 'n_docs' AS metric, n_docs AS value FROM m1
      UNION ALL SELECT 'total_tokens', total_tokens FROM m1
      UNION ALL SELECT 'distinct_words', distinct_words FROM m2
      UNION ALL SELECT 'mean_doc_tokens', mean_doc_tokens FROM m1
      UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM m1
      UNION ALL SELECT 'boiler_line_rate', boiler_line_rate FROM ld
      UNION ALL SELECT 'wordgate_pass_rate', wordgate_pass_rate FROM m1
      UNION ALL SELECT 'n_sources', n_sources FROM m1
      UNION ALL SELECT 'frac_lang_' || lang,
        floor(CAST(count(*) AS DOUBLE) / (SELECT n_docs FROM m1)
              * 1e6 + 0.5) / 1e6
        FROM base GROUP BY lang) m""".replace(
        "{SQLTOK}", SQL_TOKENS),
    "The corpus datasheet (Datasheets-for-Datasets / data-card shape) "
    "— the (metric, value) summary a corpus release publishes and the "
    "sanity gate a 100 TB build re-runs after every pipeline stage: "
    "volume (docs, tokens, vocabulary, mean length), hygiene "
    "(exact-duplicate rate over corpus_prep's normalized fingerprint, "
    "boilerplate-line rate over line_dedup's detector, word-count-gate "
    "pass rate) and composition (language fractions, source count). "
    "One composed plan of linear aggregations already audited under "
    "their owning operators, combined by 1-row broadcasts and "
    "unpivoted with stack; ratios quantize at 6dp "
    "(operators/text.py:corpus_report).",
)
def q_corpus_report(spark: SparkSession, sf: str) -> DataFrame:
    return TX.corpus_report(table(spark, sf, "documents"))


@query(
    "kn_surprisal",
    r"""WITH tk AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents),
    bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
           FROM tk, unnest(generate_series(1, len(ws) - 1)) AS u(i)
           WHERE len(ws) >= 2),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM c12 GROUP BY 1),
    bk AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY 1),
    tt AS (SELECT count(*) AS t FROM c12),
    sc AS (SELECT bg.doc_id,
        CAST(floor(-ln(
            greatest(CAST(c12.c12 AS DOUBLE) - 0.75, 0.0)
              / CAST(ctx.c1 AS DOUBLE)
            + (0.75 * CAST(ctx.n1f AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
              * (CAST(bk.n1b AS DOUBLE) / CAST(tt.t AS DOUBLE)))
            * 1e6 + 0.5) AS BIGINT) AS s6
      FROM bg JOIN c12 USING (w1, w2)
      JOIN ctx ON ctx.w1 = bg.w1
      JOIN bk ON bk.w2 = bg.w2
      CROSS JOIN tt),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        floor(CAST(sum(s6) AS DOUBLE) / (count(*) * 1e6) * 1e4 + 0.5) / 1e4
          AS surprisal
      FROM sc GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
           coalesce(a.surprisal, 0.0) AS surprisal
    FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "Interpolated Kneser-Ney bigram surprisal — the production "
    "perplexity-filter tier (CCNet's filter is a KN-smoothed KenLM; "
    "bigram_surprisal is the plain-MLE-interpolation step below): "
    "p(w2|w1) = max(c12 - d, 0)/c(w1.) + (d*N1+(w1,.)/c(w1.)) * "
    "(N1+(.,w2)/T) with d=0.75 — absolute discounting plus the "
    "continuation-probability backoff that ranks frequent-word-in-"
    "novel-context above raw-frequency smoothing. Same linear plan "
    "shape as bigram_surprisal (bigram counts shuffle on (w1,w2); the "
    "context/continuation tables aggregate the BIGRAM-TYPE table, "
    "vocabulary-squared at worst, never corpus scale; T a 1-row "
    "broadcast); logs quantize to integer micro-nats before the "
    "order-exact per-doc mean; <2-token documents report (0, 0.0) "
    "(operators/text.py:kn_surprisal).",
)
def q_kn_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    return TX.kn_surprisal(table(spark, sf, "documents"))


@query(
    "kn3_surprisal",
    r"""WITH tk AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents),
    tg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
           FROM tk, unnest(generate_series(1, len(ws) - 2)) AS u(i)
           WHERE len(ws) >= 3),
    c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM tg GROUP BY 1, 2, 3),
    ctx12 AS (SELECT w1, w2, sum(c123) AS c12, count(*) AS n12f
              FROM c123 GROUP BY 1, 2),
    cont23 AS (SELECT w2, w3, count(*) AS c23c FROM c123 GROUP BY 1, 2),
    ctx2 AS (SELECT w2, sum(c23c) AS c2dot, count(*) AS n2f
             FROM cont23 GROUP BY 1),
    cw3 AS (SELECT w3, count(*) AS n3b FROM cont23 GROUP BY 1),
    tt AS (SELECT count(*) AS t FROM cont23),
    sc AS (SELECT tg.doc_id,
        CAST(floor(-ln(
            greatest(CAST(c123.c123 AS DOUBLE) - 0.75, 0.0)
              / CAST(ctx12.c12 AS DOUBLE)
            + (0.75 * CAST(ctx12.n12f AS DOUBLE)
               / CAST(ctx12.c12 AS DOUBLE))
              * (greatest(CAST(cont23.c23c AS DOUBLE) - 0.75, 0.0)
                   / CAST(ctx2.c2dot AS DOUBLE)
                 + (0.75 * CAST(ctx2.n2f AS DOUBLE)
                    / CAST(ctx2.c2dot AS DOUBLE))
                   * (CAST(cw3.n3b AS DOUBLE) / CAST(tt.t AS DOUBLE))))
            * 1e6 + 0.5) AS BIGINT) AS s6
      FROM tg JOIN c123 USING (w1, w2, w3)
      JOIN ctx12 ON ctx12.w1 = tg.w1 AND ctx12.w2 = tg.w2
      JOIN cont23 ON cont23.w2 = tg.w2 AND cont23.w3 = tg.w3
      JOIN ctx2 ON ctx2.w2 = tg.w2
      JOIN cw3 ON cw3.w3 = tg.w3
      CROSS JOIN tt),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        floor(CAST(sum(s6) AS DOUBLE) / (count(*) * 1e6) * 1e4 + 0.5) / 1e4
          AS surprisal
      FROM sc GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.n_trigrams, 0) AS n_trigrams,
           coalesce(a.surprisal, 0.0) AS surprisal
    FROM documents d LEFT JOIN agg a USING (doc_id)""",
    "Interpolated Kneser-Ney TRIGRAM surprisal — the KenLM-order step "
    "above kn_surprisal (CCNet's production filter is a 5-gram KN "
    "model; order 3 exercises the full RECURSIVE continuation backoff "
    "that higher orders only repeat): p(w3|w1w2) = max(c123-d,0)/c12 + "
    "(d*N1+(w1w2,.)/c12) * p_kn(w3|w2), where the lower order runs on "
    "Chen-Goodman continuation counts derived from the trigram TYPE "
    "table (bounded by observed trigram TYPES — corpus-linear, never "
    "vocabulary-cubed). Same linear plan one order up: trigram counts "
    "shuffle on (w1,w2,w3); four aggregations OF the type table; "
    "keyed-join probes; T a 1-row broadcast; micro-nat integer "
    "quantization before the order-exact per-doc mean; <3-token "
    "documents report (0, 0.0) (operators/text.py:kn3_surprisal).",
)
def q_kn3_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    return TX.kn3_surprisal(table(spark, sf, "documents"))


def _kn_sql(order: int, prune: int = 0) -> str:
    """Oracle generator for kn_ngram_surprisal at ANY order — emits the
    generalized CTE ladder (raw n-gram type table, the per-order
    continuation/context tables, base distribution from the level-2
    table) with the nested smoothing expression built in the IDENTICAL
    association order as the Spark builder, so order 4/5 oracles are a
    parameter, not new SQL (VERDICT r12 item 7). Orders 2/3 keep their
    hand-written twins (kn_surprisal / kn3_surprisal above); a unit
    test pins this generator equal to them on the fixture.

    The enrichment chain is one MATERIALIZED two-join CTE per level
    (the Spark enrich-first shape) instead of one flat n-way join:
    past ~8 relations DuckDB's join-order search degrades to plans
    with CROSS_PRODUCTs (measured: 130s vs 0.3s on the sf0.001
    fixture at order 5).

    ``prune`` mirrors kn_ngram_surprisal's count-threshold pruning
    with the SAME arithmetic (VERDICT r13 item 6): the TOP-order
    raw-count table drops count<=prune rows; every level below
    derives from the pruned table above (continuation counts are
    never thresholded — they are type counts, see the operator
    docstring); the enrichment starts from the RAW type table and
    LEFT-joins the pruned model tables; a NULL context passes p
    through unchanged (CASE WHEN cdot IS NULL), a NULL gram count
    coalesces to 0, and a word missing from the base scores the
    1/greatest(T,1) <unk> floor (coalesce(n1b, 1))."""
    n = order
    cols = [f"w{i}" for i in range(1, n + 1)]
    count_alias = {2: "n_bigrams", 3: "n_trigrams"}.get(n, f"n_{n}grams")
    d = repr(float(TX.KN_DISCOUNT))
    pruned = prune > 0
    if pruned and n < 3:
        raise ValueError("prune applies to levels > 2 — needs order >= 3")
    jk = "LEFT JOIN" if pruned else "JOIN"
    gram_sel = ", ".join(
        (f"ws[i+{j}] AS {cols[j]}" if j else f"ws[i] AS {cols[0]}")
        for j in range(n))
    ctes = [
        r"""tk AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
          AS ws FROM documents)""",
        f"""tg AS MATERIALIZED (SELECT doc_id, {gram_sel}
           FROM tk, unnest(generate_series(1, len(ws) - {n - 1})) AS u(i)
           WHERE len(ws) >= {n})""",
    ]
    if pruned:
        # raw type table stays (the probe surface); the model top is
        # its count>prune subset
        ctes.append(
            f"""raw{n} AS MATERIALIZED (SELECT {", ".join(cols)},
           count(*) AS c{n} FROM tg
           GROUP BY {", ".join(str(i + 1) for i in range(n))})""")
        ctes.append(
            f"""lvl{n} AS MATERIALIZED (SELECT * FROM raw{n}
           WHERE c{n} > {prune})""")
    else:
        ctes.append(
            f"""lvl{n} AS MATERIALIZED (SELECT {", ".join(cols)},
           count(*) AS c{n} FROM tg
           GROUP BY {", ".join(str(i + 1) for i in range(n))})""")
    for m in range(n, 1, -1):
        gcols = cols[n - m:]
        if m < n:
            ctes.append(
                f"""lvl{m} AS MATERIALIZED (SELECT {", ".join(gcols)},
           count(*) AS c{m} FROM lvl{m + 1}
           GROUP BY {", ".join(str(i + 1) for i in range(m))})""")
        ctes.append(
            f"""ctx{m} AS (SELECT {", ".join(gcols[:-1])},
           sum(c{m}) AS cdot{m}, count(*) AS nf{m}
           FROM lvl{m} GROUP BY {", ".join(
               str(i + 1) for i in range(m - 1))})""")
    ctes.append(f"bk AS (SELECT {cols[-1]}, count(*) AS n1b "
                f"FROM lvl2 GROUP BY 1)")
    ctes.append("tt AS (SELECT count(*) AS t FROM lvl2)")
    # progressive enrichment of the type table, two joins per CTE
    prev = f"raw{n}" if pruned else f"lvl{n}"
    for m in range(n, 1, -1):
        gcols = cols[n - m:]
        on_ctx = " AND ".join(f"ctx{m}.{c} = {prev}.{c}"
                              for c in gcols[:-1])
        extra = ""
        if m < n:
            on_lvl = " AND ".join(f"lvl{m}.{c} = {prev}.{c}"
                                  for c in gcols)
            extra = f"\n      {jk} lvl{m} ON {on_lvl}"
        ctes.append(
            f"""e{m} AS MATERIALIZED (SELECT {prev}.*,
           {f"lvl{m}.c{m}, " if m < n else ""}ctx{m}.cdot{m}, ctx{m}.nf{m}
      FROM {prev}{extra}
      {jk} ctx{m} ON {on_ctx})""")
        prev = f"e{m}"
    if pruned:
        p = ("CAST(coalesce(n1b, 1) AS DOUBLE) / "
             "CAST(greatest(t, 1) AS DOUBLE)")
    else:
        p = "CAST(n1b AS DOUBLE) / CAST(t AS DOUBLE)"
    for m in range(2, n + 1):
        cdot = f"CAST(cdot{m} AS DOUBLE)"
        if pruned:
            cm = (f"CASE WHEN c{n} > {prune} THEN c{n} ELSE 0 END"
                  if m == n else f"coalesce(c{m}, 0)")
            p = (f"CASE WHEN cdot{m} IS NULL THEN ({p}) ELSE "
                 f"greatest(CAST({cm} AS DOUBLE) - {d}, 0.0) / {cdot}"
                 f" + ({d} * CAST(nf{m} AS DOUBLE) / {cdot}) * ({p}) END")
        else:
            p = (f"greatest(CAST(c{m} AS DOUBLE) - {d}, 0.0) / {cdot}"
                 f" + ({d} * CAST(nf{m} AS DOUBLE) / {cdot}) * ({p})")
    ctes.append(
        f"""enr AS MATERIALIZED (SELECT {", ".join(
            f"{prev}.{c}" for c in cols)},
        CAST(floor(-ln({p}) * 1e6 + 0.5) AS BIGINT) AS s6
      FROM {prev} {jk} bk ON bk.{cols[-1]} = {prev}.{cols[-1]}
      CROSS JOIN tt)""")
    ctes.append(
        f"""agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS {count_alias},
        floor(CAST(sum(s6) AS DOUBLE) / (count(*) * 1e6) * 1e4 + 0.5) / 1e4
          AS surprisal
      FROM tg JOIN enr USING ({", ".join(cols)}) GROUP BY doc_id)""")
    return ("WITH " + ",\n    ".join(ctes) + f"""
    SELECT d.doc_id, coalesce(a.{count_alias}, 0) AS {count_alias},
           coalesce(a.surprisal, 0.0) AS surprisal
    FROM documents d LEFT JOIN agg a USING (doc_id)""")


@query(
    "kn5_surprisal",
    _kn_sql(5),
    "Interpolated Kneser-Ney 5-GRAM surprisal — the production KenLM "
    "order itself (CCNet filters on a 5-gram KN model): the "
    "parameterized kn_ngram_surprisal derivation at order 5 "
    "(operators/text.py:kn_ngram_surprisal — kn_surprisal/"
    "kn3_surprisal are orders 2/3 of the same step, VERDICT r12 item "
    "7). The count-table ladder derives each lower order's Chen-"
    "Goodman continuation counts by aggregating the table ONE level "
    "above (distinct one-left extensions), so every model table is "
    "bounded by observed 5-gram TYPES — corpus-linear, never "
    "vocabulary^5; the type table is enriched through the 8 type-"
    "scale joins FIRST and the corpus-scale occurrence table probes "
    "it once; T a 1-row broadcast. The oracle comes from the same "
    "generator (registry._kn_sql(5)) with the smoothing expression "
    "association mirrored level by level; micro-nat integer "
    "quantization before the order-exact per-doc mean; <5-token "
    "documents report (0, 0.0).",
)
def q_kn5_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    return TX.kn_ngram_surprisal(table(spark, sf, "documents"), order=5)


@query(
    "kn5_pruned",
    _kn_sql(5, prune=1),
    "Count-threshold-PRUNED 5-gram Kneser-Ney surprisal (VERDICT r13 "
    "item 6 — production KenLM/SRILM ship pruned models; CCNet's "
    "filter model is pruned): kn_ngram_surprisal(order=5, prune=1) "
    "(operators/text.py). The top-order raw table keeps only "
    "count>1 rows and every backoff level derives from the pruned "
    "table above it, so all model levels shrink together; the "
    "threshold never touches the derived continuation counts (type "
    "counts, ~all 1 — thresholding them empties the ladder, "
    "measured) and the level-2 base never prunes (KenLM's "
    "no-unigram-pruning rule). Renormalization is "
    "exact by construction — context tables recompute from the "
    "pruned levels, so every surviving context's conditional still "
    "sums to 1 and pruned grams score through the redistributed "
    "backoff mass; a missing context passes p through (unseen-"
    "context backoff), a base-pruned word scores the 1/T <unk> "
    "floor. Scale point: on natural text hapax 5-grams dominate the "
    "type table, so the 8 enrichment joins' build sides collapse to "
    "the count>1 subset — the type-table reduction the unpruned "
    "kn5_surprisal plan cannot have. Oracle: the same "
    "registry._kn_sql generator with prune=1 — threshold arithmetic "
    "shared, association order mirrored level by level.",
)
def q_kn5_pruned(spark: SparkSession, sf: str) -> DataFrame:
    return TX.kn_ngram_surprisal(table(spark, sf, "documents"), order=5,
                                 prune=1)
