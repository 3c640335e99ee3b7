"""Deterministic sampling for corpus construction.

Training-data pipelines re-weight sources constantly ("25% of the English
crawl, all of the low-resource languages"). Doing that with `rand()` is a
reproducibility bug — re-running the job yields a different corpus — so
these operators sample by HASH of a stable key: a row is kept iff
md5(key) mod 10^4 < rate*10^4. The decision is a pure scan-side Column
expression (no shuffle, no state, pushes through any plan), identical
re-run to re-run, engine to engine (the md5 derivation matches the DuckDB
oracle), and stratum-independent per key.

At 100 TB this is the only sampling that works: no coordination, no
per-partition counters, no sort — every executor decides each row locally,
and changing one stratum's rate leaves every other stratum's sample
byte-identical (hash decisions don't interact).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_hash64, stable_round, tokens

_SCALE = 10_000  # rate resolution 0.01%
#: the shuffles range-bucket their 60-bit hash by its top BUCKET_BITS bits
BUCKET_BITS = 10


def _keep(key: Column, rate_scaled: Column, salt: str) -> Column:
    return md5_hash64(F.concat(key.cast("string"), F.lit(salt))) % _SCALE < rate_scaled


def hash_sample(df: DataFrame, fraction: float, key_col: str,
                salt: str = "") -> DataFrame:
    """Deterministic Bernoulli sample: keep iff md5(key||salt) % 1e4 < f*1e4.

    `salt` decorrelates independent samples over the same keys (two salted
    10% samples overlap ~1%, not 100%).
    """
    rate = F.lit(int(round(fraction * _SCALE)))
    return df.filter(_keep(F.col(key_col), rate, salt))


def stratified_sample(df: DataFrame, strata_col: str,
                      rates: Mapping[str, float], default_rate: float,
                      key_col: str, salt: str = "") -> DataFrame:
    """Per-stratum deterministic sampling (corpus mixing).

    rates maps stratum value -> keep fraction; anything unlisted gets
    default_rate. One CASE expression picks the rate, one hash decides —
    still scan-only, no shuffle.
    """
    rate = F.lit(int(round(default_rate * _SCALE)))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value,
                      F.lit(int(round(r * _SCALE)))).otherwise(rate)
    return df.filter(_keep(F.col(key_col), rate, salt))


def weighted_upsample(df: DataFrame, strata_col: str,
                      weights: Mapping[str, float], default_weight: float,
                      key_col: str, salt: str = "") -> DataFrame:
    """Deterministic fractional epoch mixing ("2.5 epochs of wiki, 0.3 of
    crawl"): each row is repeated floor(w) times, plus one more iff its
    hash falls under frac(w) — the upsampling dual of stratified_sample,
    with the same scan-side no-coordination properties.

    Output carries `epoch` (0-based copy index) so downstream
    shuffles (global_shuffle on (key, epoch)) spread the copies apart
    rather than batching them adjacently. Expected row count per stratum
    is exactly weight * n; re-runs are byte-identical; changing one
    stratum's weight leaves every other stratum's copies untouched.
    Integer fan-out is a `sequence`+`explode` array expression — no
    shuffle, no state, linear output.
    """
    whole = F.lit(int(default_weight))
    frac = F.lit(int(round((default_weight % 1) * _SCALE)))
    for value, w in sorted(weights.items()):
        whole = F.when(F.col(strata_col) == value, F.lit(int(w))).otherwise(whole)
        frac = F.when(F.col(strata_col) == value,
                      F.lit(int(round((w % 1) * _SCALE)))).otherwise(frac)
    extra = _keep(F.col(key_col), frac, salt).cast("int")
    n_copies = (whole + extra).alias("__n")
    return (df.withColumn("__n", n_copies)
              .filter(F.col("__n") > 0)
              .withColumn("epoch",
                          F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
              .drop("__n"))


def global_shuffle(df: DataFrame, key_col: str) -> DataFrame:
    """Deterministic dense global shuffle order for training-data batching.

    Every row gets a position 1..N in the total order (hash("s0"|key),
    key) — a reproducible corpus shuffle that any worker can recompute.

    Scale path: a single global row_number() would sort on ONE partition.
    Instead the 60-bit portable hash is range-bucketed by its top
    ``BUCKET_BITS`` bits (contiguous hash ranges -> bucket-major order IS
    global order), rows get a row_number within their bucket, and each
    bucket's global offset comes from a tiny cumulative count table
    (2^BUCKET_BITS rows) broadcast back — the range-partitioned sort
    pattern, ~uniform buckets by hash construction, no driver collect.
    """
    from pyspark.sql import Window

    h = md5_hash64(F.concat_ws("|", F.lit("s0"), F.col(key_col).cast("string")))
    d = df.select(F.col(key_col), h.alias("__h"),
                  F.shiftright(h, 60 - BUCKET_BITS).alias("__b"))
    counts = d.groupBy("__b").agg(F.count("*").alias("__c"))
    offsets = counts.select(
        "__b",
        (F.sum("__c").over(Window.orderBy("__b")) - F.col("__c")).alias("__off"))
    win = Window.partitionBy("__b").orderBy("__h", key_col)
    return (d.withColumn("__rn", F.row_number().over(win))
             .join(F.broadcast(offsets), "__b")
             .select(F.col(key_col),
                     (F.col("__off") + F.col("__rn")).cast("long").alias("pos")))


def staged_order(df: DataFrame, stage_col: str, key_col: str,
                 seed: str = "cur") -> DataFrame:
    """Dense global training order grouped by an integer STAGE, shuffled
    within each stage: pos = rank in (stage asc, hash(seed|key), key).
    The curriculum-learning dataloader order — stages in sequence, rows
    inside a stage in a reproducible shuffle (same contract as
    :func:`global_shuffle`, which is the one-stage special case).

    Scale path mirrors global_shuffle's range-bucketed two-phase rank:
    the bucket id prepends the stage to the hash's top bits, so
    bucket-major order IS (stage, hash) order; per-bucket row_number
    plus a broadcast cumulative-offset table (n_stages * 2^BUCKET_BITS
    rows) yields the dense global position with no single-partition
    sort. Requires stage values to be small non-negative integers (a
    curriculum has a handful)."""
    from pyspark.sql import Window

    h = md5_hash64(F.concat_ws("|", F.lit(seed),
                               F.col(key_col).cast("string")))
    b = (F.col(stage_col).cast("long") * (1 << BUCKET_BITS)
         + F.shiftright(h, 60 - BUCKET_BITS))
    d = df.select(F.col(key_col), F.col(stage_col), h.alias("__h"),
                  b.alias("__b"))
    counts = d.groupBy("__b").agg(F.count("*").alias("__c"))
    offsets = counts.select(
        "__b",
        (F.sum("__c").over(Window.orderBy("__b")) - F.col("__c")).alias("__off"))
    win = Window.partitionBy("__b").orderBy("__h", key_col)
    return (d.withColumn("__rn", F.row_number().over(win))
             .join(F.broadcast(offsets), "__b")
             .select(F.col(key_col), F.col(stage_col),
                     (F.col("__off") + F.col("__rn")).cast("long").alias("pos")))


def source_mixture(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-weighted source-mixing table — the sampling weights a
    multi-source training run draws from (the alpha-smoothed mixture of
    mC4/XLM-R: w_s proportional to tokens_s^alpha, alpha < 1 upweights
    small sources).

    alpha is fixed at 0.5 so the power is sqrt(), the one libm function
    IEEE-754 requires to be correctly rounded — bit-identical across
    engines. Cross-engine float-sum order-dependence is removed by
    quantizing each source's sqrt(tokens) to an INTEGER of micro-units
    before the normalizing sum: integer sums are exact in any order, and
    the final weight is one double division of two exact integers, then
    portable rounding. One corpus scan + a groupBy on the handful of
    sources; the normalizing sum is a window over that handful.

    Returns (source, n_docs, n_tokens, weight) with sum(weight) ~= 1.
    """
    from pyspark.sql import Window

    if alpha != 0.5:
        raise ValueError(
            "portable contract is fixed at alpha=1/2 (sqrt); other "
            "exponents would need pow(), which is not correctly rounded")
    tok_cnt = F.size(F.filter(tokens("text"), lambda x: x != ""))
    per_src = (docs.select(F.col("source"), tok_cnt.alias("__t"))
                   .groupBy("source")
                   .agg(F.count("*").alias("n_docs"),
                        F.sum("__t").cast("long").alias("n_tokens")))
    isq = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6
                  + F.lit(0.5)).cast("long")
    denom = F.sum(isq).over(Window.partitionBy())
    weight = stable_round(isq.cast("double") / denom.cast("double"), 6)
    return per_src.select("source", "n_docs", "n_tokens",
                          weight.alias("weight"))


def epoch_order_key() -> Column:
    """Deterministic per-(epoch, key) 60-bit shuffle key for multi-epoch
    training order — the `global_shuffle` hash-order pattern
    parameterized by the epoch index, so each epoch gets an independent
    order and copies of the same document land far apart, while any
    worker can recompute any position with no state. Compose with
    `weighted_upsample` (which emits `epoch`) and sort by this key.
    """
    return md5_hash64(F.concat(
        F.lit("ord|"), F.col("epoch").cast("string"),
        F.lit("|"), F.col("doc_id").cast("string")))


def cluster_quota_sample(emb: DataFrame, k: int = 8, iters: int = 2,
                         quota: int = 20) -> DataFrame:
    """Cluster-balanced subsampling: cap each LEARNED stratum at a quota.

    The stratified/reservoir samplers above stratify on a given column;
    diversity-preserving corpus curation stratifies on semantic clusters
    instead, so head topics cannot dominate the sample. k-means
    (similarity.kmeans_train — broadcast centroids, corpus never shuffled
    during training) assigns each embedding a cluster, then each cluster
    keeps its `quota` smallest members under the portable md5(id||'csmp')
    permutation (a uniform within-cluster sample, stable across runs and
    engines), with the cluster's total size attached so downstream
    re-weighting can correct the selection bias.

    Scale: the quota rank compiles to WindowGroupLimit — map tasks forward
    at most `quota` rows per cluster, so the per-cluster exchange sees
    executors*quota rows, not the corpus. With few clusters the exchange
    keys skew; at 100 TB raise k with the corpus or two-phase the quota
    the way global_shuffle two-phases its ranking.
    """
    from pyspark.sql import Window

    from .similarity import kmeans_train

    lab = kmeans_train(emb, k=k, iters=iters)
    # cluster sizes as a groupBy aggregate joined back AFTER the rank
    # filter (the oracle's sz CTE), NOT a count-over-partition window:
    # an extra window below the rank would sit between row_number and
    # the exchange and block InsertWindowGroupLimits — the whole corpus
    # would cross the per-cluster exchange instead of <= quota rows per
    # map task. The aggregate is partially aggregable and the k-row
    # size table broadcasts.
    sizes = lab.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_in_cluster"))
    hk = md5_hash64(F.concat(F.col("vec_id").cast("string"), F.lit("csmp")))
    w = Window.partitionBy("cluster").orderBy(hk.asc(), F.col("vec_id").asc())
    return (lab.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= quota)
               .join(F.broadcast(sizes), "cluster")
               .select("vec_id", "cluster", "n_in_cluster",
                       F.col("rn").cast("long").alias("rn")))
