"""Approximate & exact nearest-neighbor search over embedding columns.

Beyond-reference operators for training-data pipelines. Two tiers:

- brute_force_knn: exact cosine top-k. The query set is broadcast (it is
  small by construction); candidates stream through a codegen'd array fold;
  rank prune via WindowGroupLimit keeps only k rows per query per task
  before the shuffle. This is the correctness baseline and is itself
  scan-bound at scale (one pass over the corpus per query batch).

- ivf_knn: IVF-style two-stage search. A deterministic coarse quantizer
  (here: the provided `label` column, or any cluster assignment) routes
  each query to its nprobe nearest centroids; only those partitions are
  scanned. At 100 TB the corpus would be written partitioned by the
  centroid id so partition pruning skips >90% of the data on disk.

Norms are computed once per vector (O(n)) and joined alongside it, not
recomputed per pair (O(n^2)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    dot_product, dot_product_sql, l2_norm, l2_norm_sql, sq_dist_sql,
    stable_round, stable_round_sql,
)


def _rank_topk(scored: DataFrame, k: int,
               extra_cols: tuple = ()) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("__sim").desc(), F.col("c_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .filter(F.col("rnk") <= k)
                  .select("q_id", "c_id", *extra_cols,
                          stable_round(F.col("__sim"), 4).alias("cos_sim"),
                          F.col("rnk").cast("long").alias("rnk")))


def brute_force_knn(queries: DataFrame, corpus: DataFrame,
                    k: int = 5) -> DataFrame:
    """Exact cosine top-k: (q_id, c_id, cos_sim, rnk), a query never its
    own neighbor."""
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
                       l2_norm(F.col("embedding")).alias("q_norm"))
    c = corpus.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"),
                      l2_norm(F.col("embedding")).alias("c_norm"))
    pairs = (c.join(F.broadcast(q), F.lit(True))
              .filter(F.col("q_id") != F.col("c_id")))
    sim = dot_product(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    return _rank_topk(pairs.select("q_id", "c_id", stable_round(sim, 6).alias("__sim")), k)


def centroids_from_labels(corpus: DataFrame) -> DataFrame:
    """Mean vector per label — a deterministic coarse quantizer.

    Element-wise sums via posexplode + pivot-free regroup: one shuffle
    keyed by (label, dim), then array reassembly — scales to any dim
    without a per-dimension aggregate expression explosion.
    """
    parts = corpus.select(F.col("label").alias("centroid_id"),
                          F.posexplode(F.col("embedding")).alias("dim", "x"))
    sums = (parts.groupBy("centroid_id", "dim")
                 .agg(F.sum(F.col("x").cast("double")).alias("s"),
                      F.count("*").alias("n")))
    return (sums.groupBy("centroid_id")
                .agg(F.array_sort(F.collect_list(F.struct("dim", (F.col("s") / F.col("n")).alias("m"))))
                      .alias("__dm"))
                .select("centroid_id",
                        F.transform(F.col("__dm"), lambda s: s["m"]).alias("centroid")))


def ivf_knn(queries: DataFrame, corpus: DataFrame, k: int = 5,
            nprobe: int = 2) -> DataFrame:
    """Two-stage ANN: route each query to nprobe nearest centroids, scan only
    those buckets, exact-rerank within the candidates."""
    cents = centroids_from_labels(corpus)
    cents = cents.withColumn("cent_norm", l2_norm(F.col("centroid")))
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"),
                       l2_norm(F.col("embedding")).alias("q_norm"))
    qc = q.join(F.broadcast(cents), F.lit(True))
    csim = (dot_product(F.col("q_vec"), F.col("centroid"))
            / (F.col("q_norm") * F.col("cent_norm")))
    wq = Window.partitionBy("q_id").orderBy(F.col("__cs").desc(), F.col("centroid_id"))
    routed = (qc.select("q_id", "q_vec", "q_norm", "centroid_id",
                        stable_round(csim, 6).alias("__cs"))
                .withColumn("__r", F.row_number().over(wq))
                .filter(F.col("__r") <= nprobe)
                .select("q_id", "q_vec", "q_norm",
                        F.col("centroid_id").alias("label")))
    c = corpus.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"),
                      l2_norm(F.col("embedding")).alias("c_norm"), "label")
    cand = (c.join(F.broadcast(routed), ["label"])
              .filter(F.col("q_id") != F.col("c_id")))
    sim = dot_product(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    return _rank_topk(cand.select("q_id", "c_id", stable_round(sim, 6).alias("__sim")), k)


def knn_graph(corpus: DataFrame, k: int = 3) -> DataFrame:
    """Block-confined kNN GRAPH over the whole corpus — every vector's
    top-k cosine neighbors within its own label block: the input shape
    of graph-based curation (SemDeDup-style cluster pruning, kNN-graph
    clustering, link-based quality propagation), where EVERY vector is
    a query, not a 20-row probe set.

    Scale shape: a label equi-join of the corpus against itself — the
    quadratic cost is |block|² PER BLOCK, never corpus², and the join
    is a plain shuffle on the label key (nothing broadcasts: both
    sides are corpus-sized, which is exactly why the ivf_knn
    broadcast-the-queries shape is wrong here). At 100 TB: corpus
    bucketed by label once → the self-join co-locates without a
    shuffle, and block size is controlled by the quantizer's k (grow
    cells ∝ sqrt(n) and per-block work stays bounded). Rank compiles
    to WindowGroupLimit (map-side partial top-k, verified in
    PLANS.md).

    Output: (q_id, c_id, cos_sim, rnk) — one row per graph edge."""
    a = corpus.select(F.col("label").alias("__lb"),
                      F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_vec"),
                      l2_norm(F.col("embedding")).alias("q_norm"))
    b = corpus.select(F.col("label").alias("__lb"),
                      F.col("vec_id").alias("c_id"),
                      F.col("embedding").alias("c_vec"),
                      l2_norm(F.col("embedding")).alias("c_norm"))
    cand = a.join(b, "__lb").filter(F.col("q_id") != F.col("c_id"))
    sim = (dot_product(F.col("q_vec"), F.col("c_vec"))
           / (F.col("q_norm") * F.col("c_norm")))
    return _rank_topk(cand.select("q_id", "c_id",
                                  stable_round(sim, 6).alias("__sim")), k)


def semantic_prune(corpus: DataFrame, k: int = 3,
                   eps: float = 0.35) -> DataFrame:
    """SemDeDup-style graph pruning (Abbas et al. 2023, arXiv:2303.09540):
    the curation step that CONSUMES :func:`knn_graph` — kNN edges above a
    similarity threshold define semantic-duplicate groups (connected
    components), and each group keeps the member LEAST similar to its
    block centroid (SemDeDup's low-centroid-similarity keeper: the most
    peripheral = most informative example survives; ties to the lower
    id).

    Output: one row per vector — (id, cluster_id, n_members, cent_sim,
    kept) — the keep/drop manifest a corpus build applies as a
    semi-join filter.

    Scale shape: composes three audited plans and adds nothing
    super-linear. Edges come from knn_graph's block-confined label
    self-join (quadratic per block only) filtered to cos >= eps — so
    the CC input is a sparse edge list orders smaller than the corpus;
    components via the CC loop (int64 pair shuffles, driver sees one
    scalar per round); centroid similarity is an equi-join against the
    label-means table (label-count rows — broadcast-sized by
    construction). eps is fixture-calibrated (this synthetic corpus
    tops out near cos 0.47 within blocks); production SemDeDup uses
    ~0.95+ on real embeddings — the plan is identical at any eps.
    """
    from .dedup import connected_components
    edges = (knn_graph(corpus, k=k)
             .filter(F.col("cos_sim") >= eps)
             .select("q_id", "c_id"))
    cc = connected_components(edges, corpus.select("vec_id"),
                              src_col="q_id", dst_col="c_id",
                              id_col="vec_id")
    cents = centroids_from_labels(corpus)
    cents = cents.withColumn("cent_norm", l2_norm(F.col("centroid")))
    sim = (dot_product(F.col("embedding"), F.col("centroid"))
           / (l2_norm(F.col("embedding")) * F.col("cent_norm")))
    cs = (corpus.join(cents, corpus["label"] == cents["centroid_id"])
                .select("vec_id", stable_round(sim, 6).alias("__c6")))
    j = cc.join(cs, "vec_id").select(
        F.col("vec_id"), F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("__c6"))
    wr = Window.partitionBy("cluster_id").orderBy(F.col("__c6"),
                                                  F.col("vec_id"))
    wn = Window.partitionBy("cluster_id")
    return (j.withColumn("__rn", F.row_number().over(wr))
             .withColumn("n_members", F.count("*").over(wn))
             .select(F.col("vec_id"),
                     "cluster_id",
                     F.col("n_members").cast("long").alias("n_members"),
                     stable_round(F.col("__c6"), 4).alias("cent_sim"),
                     F.when(F.col("__rn") == 1, 1).otherwise(0)
                      .cast("int").alias("kept")))


def label_silhouette(corpus: DataFrame) -> DataFrame:
    """Per-vector label-noise score (the cleanlab-style centroid
    silhouette a curation pipeline runs before trusting labels): cosine
    to the OWN label centroid vs the best FOREIGN centroid; a negative
    margin means some other label's centroid explains the vector better
    — a relabel/review candidate.

    Output: (id, label, own_sim, foreign_sim, foreign_label, margin,
    suspect) — foreign_label is the best foreign centroid (ties to the
    lower label), suspect = margin < 0.

    Scale shape: ZERO corpus shuffles. The label-centroid table (k rows,
    k·dim doubles — the kmeans_train broadcast size) folds into a 1-row
    array and broadcast-joins the scan; each row scores all k centroids
    with scan-side array folds (k is the quantizer's choice, so per-row
    work is bounded and SF-independent). Per-centroid cosines quantize
    at 6 decimals BEFORE the max/argmax so the oracle's tie-break on
    (score, label) is exact on both engines.
    """
    cents = centroids_from_labels(corpus)
    cents = cents.withColumn("cent_norm", l2_norm(F.col("centroid")))
    carr = F.broadcast(cents.agg(F.array_sort(F.collect_list(
        F.struct(F.col("centroid_id").alias("lb"), "centroid",
                 "cent_norm"))).alias("__cents")))
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            c["lb"].alias("lb"),
            stable_round(dot_product(F.col("embedding"), c["centroid"])
                         / (l2_norm(F.col("embedding")) * c["cent_norm"]),
                         6).alias("s6")))
    own = F.element_at(
        F.filter(F.col("__scored"),
                 lambda s: s["lb"] == F.col("label")), 1)["s6"]
    foreign = F.filter(F.col("__scored"),
                       lambda s: s["lb"] != F.col("label"))
    best = F.array_max(F.transform(F.col("__foreign"), lambda s: s["s6"]))
    best_lb = F.array_min(F.transform(
        F.filter(F.col("__foreign"), lambda s: s["s6"] == F.col("__best")),
        lambda s: s["lb"]))
    return (corpus.select("vec_id", "label", "embedding")
                  .join(carr, F.lit(True), "left")
                  .withColumn("__scored", scored)
                  .withColumn("__own", own)
                  .withColumn("__foreign", foreign)
                  # degenerate single-label corpus: no foreign centroid
                  # exists, so there is no margin to report — emit zero
                  # rows (the oracle's inner joins on fr/fl do the same).
                  # A no-op filter on any >=2-label corpus.
                  .filter(F.size(F.col("__foreign")) > 0)
                  .withColumn("__best", best)
                  .select(F.col("vec_id"),
                          F.col("label").cast("long").alias("label"),
                          stable_round(F.col("__own"), 4).alias("own_sim"),
                          stable_round(F.col("__best"), 4).alias("foreign_sim"),
                          best_lb.cast("long").alias("foreign_label"),
                          # difference of two identically-quantized 4dp
                          # values: bit-identical on both engines with no
                          # further rounding (stable_round is
                          # non-negative-only, margins can be < 0)
                          (stable_round(F.col("__own"), 4)
                           - stable_round(F.col("__best"), 4)).alias("margin"),
                          F.when(F.col("__own") < F.col("__best"), 1)
                           .otherwise(0).cast("int").alias("suspect")))


def hard_negatives(queries: DataFrame, corpus: DataFrame, k: int = 5,
                   nprobe: int = 2) -> DataFrame:
    """Hard-negative mining for embedding-model training (the in-batch /
    ANN-mined negatives step of DPR/contrastive pipelines, Karpukhin
    EMNLP'20 §4.2): for each query vector, the top-k most-similar
    vectors with a DIFFERENT label — similar enough to be confusable,
    labeled differently, which is exactly what the contrastive loss
    needs.

    Scale shape = ivf_knn with the query's own cell excluded from the
    route: each query routes to its nprobe nearest FOREIGN label
    centroids (label-mismatch is guaranteed by construction — no
    post-filter discards candidates after the expensive join), then an
    exact cosine rerank runs only inside those blocks. At 100 TB the
    corpus is written partitioned by label once and every mining batch
    prunes all but nprobe blocks per query on disk; the centroid table
    is a broadcast.

    Output: (q_id, c_id, neg_label, cos_sim, rnk) — neg_label kept so
    downstream batch construction can stratify negatives per source
    label."""
    cents = centroids_from_labels(corpus)
    cents = cents.withColumn("cent_norm", l2_norm(F.col("centroid")))
    q = queries.select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec"),
                       l2_norm(F.col("embedding")).alias("q_norm"),
                       F.col("label").alias("__q_label"))
    qc = (q.join(F.broadcast(cents), F.lit(True))
           .filter(F.col("centroid_id") != F.col("__q_label")))
    csim = (dot_product(F.col("q_vec"), F.col("centroid"))
            / (F.col("q_norm") * F.col("cent_norm")))
    wq = Window.partitionBy("q_id").orderBy(F.col("__cs").desc(),
                                            F.col("centroid_id"))
    routed = (qc.select("q_id", "q_vec", "q_norm", "centroid_id",
                        stable_round(csim, 6).alias("__cs"))
                .withColumn("__r", F.row_number().over(wq))
                .filter(F.col("__r") <= nprobe)
                .select("q_id", "q_vec", "q_norm",
                        F.col("centroid_id").alias("label")))
    c = corpus.select(F.col("vec_id").alias("c_id"),
                      F.col("embedding").alias("c_vec"),
                      l2_norm(F.col("embedding")).alias("c_norm"), "label")
    cand = c.join(F.broadcast(routed), ["label"])
    sim = (dot_product(F.col("q_vec"), F.col("c_vec"))
           / (F.col("q_norm") * F.col("c_norm")))
    ranked = _rank_topk(
        cand.select("q_id", "c_id",
                    F.col("label").cast("long").alias("neg_label"),
                    stable_round(sim, 6).alias("__sim")),
        k, extra_cols=("neg_label",))
    return ranked


def _unit(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """L2-normalize the vector column (components engine-portably
    rounded at 6): on the unit sphere squared L2 = 2 − 2·cosine, so an
    L2 quantizer (PQ/IVFADC) ranks EXACTLY like the cosine metric the
    ANN ladder grades against. Without this the clustered fixture's
    norm spread (1.14-1.60) caps even perfect-quantization L2 recall at
    0.68 of the cosine top-5 (r8 measurement) — normalization, not a
    bigger codebook, was the missing piece. The fold in l2_norm is
    left-to-right, matching the oracle's list_reduce association, so
    the rounded components are bit-identical across engines. A zero
    vector (no direction) maps to itself rather than NaN.

    Two lazy localCheckpoints, both load-bearing for cost (r8: the
    first bench run recorded pq_knn 6.2s -> 30.4s from their absence):
    the first is a Catalyst barrier so the norm binds as a real column
    — without it CollapseProject inlines the 64-element norm fold into
    every component's lambda, turning normalization O(dim) into
    O(dim²) per row; the second materializes the normalized vectors so
    the PQ/IVF trainers' repeated corpus scans re-read instead of
    re-normalizing. At 100 TB the second is the standard
    normalize-at-ingest materialization (one corpus-sized write)."""
    # single-parse selectExpr construction (r15): the Column-composition
    # form paid ~6 py4j HOF round-trips per call; the SQL parses to the
    # bit-identical expressions (stable_round_sql mirrors stable_round's
    # exact formula, CASE WHEN mirrors when/otherwise)
    base = (df.selectExpr(id_col, vec_col,
                          f"{l2_norm_sql(vec_col)} AS __n")
              .localCheckpoint(eager=False))
    comp = stable_round_sql(
        "CASE WHEN __n = 0.0D THEN 0.0D "
        "ELSE CAST(x AS DOUBLE) / __n END", 6)
    return (base.selectExpr(
        id_col,
        f"transform({vec_col}, x -> {comp}) AS {vec_col}")
        .localCheckpoint(eager=False))


def _sq_dist(a, b):
    """Squared Euclidean distance of two array<double> columns — a
    codegen'd zip_with fold, JVM-side (the inner loop of Lloyd's step)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _fill_empty_clusters(prev: DataFrame, new: DataFrame) -> DataFrame:
    """Lloyd's empty-cluster policy for the routed trainer: a cid absent
    from the means update keeps its previous centroid, so the codebook's
    cardinality can never decay across iterations. k-row × k-row join —
    negligible next to the assign pass."""
    return (prev.select("cid", F.col("cent").alias("__prev"))
                .join(new.withColumnRenamed("cent", "__new"), "cid", "left")
                .select("cid",
                        F.coalesce("__new", "__prev").alias("cent")))


def _kmeans_fit(corpus: DataFrame, k: int, iters: int,
                ckpt_each_iter: bool = False, routed: bool = False,
                route_probes: int = 2) -> tuple[DataFrame, DataFrame]:
    """Lloyd's loop shared by `kmeans_train` and `pq_knn`: returns
    (codebook, assignment) where codebook is the final (cid, cent) table
    the assignment was computed against — PQ's ADC step needs exactly
    that table, not a re-derived mean. Same contract as `kmeans_train`
    (lowest-id seeds, fixed iterations, stable_round'ed distances and
    centroid components, ties to the lower cid).

    ``ckpt_each_iter``: materialize each iteration's k-row codebook with
    a lazy localCheckpoint. Without it, every subsequent broadcast
    collect RE-EXECUTES all prior iterations' assign+means lineage —
    fine when the result is consumed once (kmeans_train: A/B measured
    the checkpoint a net loss there, 1.38→1.69s, the extra
    materialization job outweighing the small re-execution), a real
    cost when the codebook and assignment feed several downstream
    consumers (ivfpq_knn broadcasts cents three more times for
    residuals and routing: 5.72→4.79s with the checkpoint).

    ``routed``: replace the exact brute-force assign (n*k distance
    folds per pass) with coarse-cell routing — the public FAISS/IVF
    practice for large k ("quantizer as index"): cluster the k fine
    centroids into k1 ≈ sqrt(2k) cells with one tiny exact Lloyd's
    pass, route each vector to its `route_probes` nearest cells via a
    constant-folded literal cell-centroid matrix (one scan expression,
    no shuffle — the signlsh_dots pattern), and brute-force only the
    ~route_probes*k/k1 fine centroids inside the probed cells. Per-pass
    cost drops from n*k to n*(k1 + route_probes*k/k1) ≈ n*2*sqrt(2k) —
    for k scaled with the corpus (semantic_dedup's k = n/250) that
    turns the O(n^2) assign into O(n^1.5) with small constants.
    APPROXIMATE: a vector whose true nearest centroid lives outside
    its probed cells mis-assigns (the standard IVF recall trade);
    callers gate it to k large enough that no oracle-verified SF takes
    this path. Tie-breaks and rounding inside the probed set are
    identical to the exact path."""
    v = corpus.selectExpr(
        "vec_id AS vec_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
    seeds = v.orderBy("vec_id").limit(k)
    cents = (seeds
             .withColumn("cid",
                         (F.row_number().over(Window.orderBy("vec_id")) - 1)
                         .cast("long"))
             .select("cid", F.col("e").alias("cent")))

    def _argmin(pairs: DataFrame, cid_col: str, cent_col: str) -> DataFrame:
        # argmin as a partial-aggregable min(struct(d, cid, e)) rather
        # than a Window rank: the candidate join emits its candidates per
        # vector locally and the map-side combine collapses them to one
        # BEFORE the exchange, so the shuffle moves one row per vector
        # (and never multiple copies of the vector). (d, cid) is unique
        # per vector, so the struct order never reaches e and the
        # lexicographic min IS the orderBy(d, cid) first row. Shared by
        # the exact and routed paths so the argmin contract cannot
        # diverge between them. Built as ONE selectExpr parse (r15):
        # the Column form cost ~4 py4j HOF round-trips per call and
        # this runs once per Lloyd's pass.
        d = stable_round_sql(sq_dist_sql("e", cent_col), 6)
        return (pairs.selectExpr(
                    "vec_id",
                    f"named_struct('d', {d}, 'cid', {cid_col}, 'e', e)"
                    " AS __s")
                     .groupBy("vec_id").agg(F.min("__s").alias("__s"))
                     .selectExpr("vec_id", "__s.e AS e",
                                 "__s.cid AS cid", "__s.d AS d"))

    def assign(cent_df: DataFrame) -> DataFrame:
        return _argmin(v.join(F.broadcast(cent_df), F.lit(True)),
                       "cid", "cent")

    def assign_routed(cent_df: DataFrame, rescue: bool = True) -> DataFrame:
        # coarse level: one exact mini-Lloyd's over the k centroid ROWS
        # (k*k1 flops — trivial), cells collected into a literal matrix
        # so the vector->cell routing is a pure scan expression
        k1 = max(4, int(round((2 * k) ** 0.5)))
        cellbook, casg = _kmeans_fit(
            cent_df.select(F.col("cid").alias("vec_id"),
                           F.col("cent").alias("embedding")),
            k=k1, iters=1)
        fine = (casg.select(F.col("vec_id").alias("fid"),
                            F.col("cid").alias("cell"))
                    .join(cent_df.select(F.col("cid").alias("fid"),
                                         F.col("cent").alias("fcent")),
                          "fid"))
        cb = sorted(cellbook.collect(), key=lambda r: r["cid"])
        if not cb:
            # empty corpus -> no cells to build a literal matrix from;
            # the exact path degrades to an empty result cleanly
            return assign(cent_df)
        # one SQL parse instead of k1*dim F.lit py4j round-trips (the
        # signlsh_dots r14 pattern): repr() doubles are shortest-
        # roundtrip so the parsed literals are bit-identical
        mat = F.expr("array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in r["cent"]) + ")"
            for r in cb) + ")")
        cells = F.expr("array(" + ",".join(
            f"{int(r['cid'])}L" for r in cb) + ")")
        dists = F.transform(
            mat, lambda c: stable_round(_sq_dist(F.col("e"), c), 6))
        top = F.slice(
            F.array_sort(F.zip_with(
                dists, cells,
                lambda d, c: F.struct(d.alias("d"), c.alias("cell")))),
            1, route_probes)
        ve = (v.select("vec_id", "e", F.explode(top).alias("__t"))
               .select("vec_id", "e", F.col("__t.cell").alias("cell")))
        got = _argmin(ve.join(F.broadcast(fine), "cell"), "fid", "fcent")
        if not rescue:
            return got
        # coverage guarantee: a cell can end up with ZERO fine centroids
        # (cells are the mini-fit's post-mean centroids; a cell that is
        # nobody's nearest gets no members), and a vector probing only
        # such cells would vanish from the inner join — an undocumented
        # cardinality change the exact path never has. Exact-assign the
        # misses (rare by construction) and union them back. Training
        # iterations skip the rescue (a mean missing a few vectors is
        # statistical noise; the anti-join costs an n-row shuffle per
        # pass — measured ~18s of the sf10 budget across 3 passes);
        # the FINAL assignment is the output contract and always pays.
        missed = v.join(got.select("vec_id"), "vec_id", "left_anti")
        rescued = _argmin(missed.join(F.broadcast(cent_df), F.lit(True)),
                          "cid", "cent")
        return got.unionByName(rescued)

    # the routed path re-reads each iteration's cents several times
    # (mini-trainer, literal collect, fine-table broadcast) — always
    # checkpoint there; the exact path keeps the measured A/B choice
    asg_fn = assign_routed if routed else assign
    for _ in range(iters):
        assigned = (assign_routed(cents, rescue=False) if routed
                    else assign(cents))
        dims = assigned.select("cid", F.posexplode("e").alias("dim", "x"))
        means = dims.groupBy("cid", "dim").agg(F.avg("x").alias("m"))
        new_cents = (means.groupBy("cid")
                          .agg(F.array_sort(
                                  F.collect_list(F.struct("dim", "m")))
                                .alias("__dm"))
                          .selectExpr(
                              "cid",
                              f"transform(__dm, s -> "
                              f"{stable_round_sql('s.m', 6)}) AS cent"))
        if routed:
            # Empty-cluster guard for the APPROXIMATE assign: training
            # iterations run rescue=False, so a fine centroid whose every
            # member mis-routes in one pass gets no rows in the means
            # update and would vanish from the codebook — k decaying
            # data-dependently, a stronger effect than the mean-noise the
            # rescue skip was priced for. The EXACT path is deliberately
            # not guarded: an empty cluster there is a genuine argmin
            # outcome the DuckDB oracle replicates bit-for-bit, so the
            # codebook contract stays as verified.
            new_cents = _fill_empty_clusters(cents, new_cents)
        cents = new_cents
        if ckpt_each_iter or routed:
            cents = cents.localCheckpoint(eager=False)
    if iters == 0 and (ckpt_each_iter or routed):
        # the loop checkpoints each iteration's cents; only the
        # never-iterated seed codebook still needs its own barrier here
        cents = cents.localCheckpoint(eager=False)
    return cents, asg_fn(cents)


def kmeans_train(corpus: DataFrame, k: int = 8, iters: int = 2,
                 routed: bool = False) -> DataFrame:
    """Lloyd's k-means with deterministic init — trains the coarse
    quantizer that `ivf_knn` routes through (the codebook-building half of
    an IVF index, so the ANN path no longer depends on a provided label).

    Init: the k lowest-id vectors (TakeOrderedAndProject — no global
    sort). Each iteration: assign every vector to its nearest centroid
    (k-row centroid table broadcast against the corpus scan; per-vector
    rank prune), then recompute centroids as per-dimension means via
    posexplode + regroup — the same two-shuffle shape as
    `centroids_from_labels`, linear in n*dim and independent of k. The
    loop runs a FIXED iteration count (no convergence collect), so the
    whole operator is `iters + 1` passes over the corpus; at 100 TB each
    iteration's centroid table is k*dim doubles — trivially broadcastable
    — and the corpus is never shuffled, only (cid, dim, x) triples.

    Distances and centroid components round through stable_round so the
    argmin is reproducible across engines (ties break toward the lower
    centroid id). Returns the final assignment:
    (vec_id, cluster, dist) with dist = squared L2, rounded to 4.

    ``routed=True`` swaps every assign pass for the coarse-cell routed
    approximation (see _kmeans_fit) — n*2*sqrt(2k) flops per pass
    instead of n*k. Callers whose k scales with the corpus
    (semantic_dedup) enable it above the exact-path's affordable k;
    oracle-verified scales stay exact.
    """
    _, final = _kmeans_fit(corpus, k, iters, routed=routed)
    return final.select("vec_id",
                        F.col("cid").alias("cluster"),
                        stable_round(F.col("d"), 4).alias("dist"))


def auto_refine(n: int, topk: int = 5, floor: int = 50) -> int:
    """Corpus-adaptive refine budget for the PQ tiers: R = max(floor,
    topk * ceil(n / 50)) — i.e. the exact-rerank shortlist holds a fixed
    ~topk/50 FRACTION of the corpus instead of a fixed count.

    Why (r9, measured at the driver fixtures): at fixed R=50 the 16-bit
    ADC codes cannot keep the true top-5 inside the shortlist as the
    corpus grows — clustered-fixture recall@5 fell 0.96 -> 0.67 (pq) and
    0.90 -> 0.65 (ivfpq) from n=500 to n=2000, and R=200 (= this rule at
    n=2000) restored 0.98 / 0.93 at unchanged nprobe=2. At n <= 500 —
    every hash-verified SF — the rule returns the floor, so oracle
    results are bit-identical to the fixed-R history.

    Contract at 100 TB: a fixed-fraction shortlist makes the refine
    stage O(n) per query batch, which is the honest cost of holding
    recall at FIXED code resolution (16 bits). The production lever at
    large n is more code bits (raise m — the collision rate per code
    cell, not this rule, is what actually degrades), after which R can
    fall back toward the floor; the isotropic fixture's residual decay
    (pq 0.91 at R=400, n=2000) is the no-structure adversarial bound,
    not the operating regime."""
    return max(floor, topk * ((n + 49) // 50))


def _exact_rerank(short: DataFrame, queries: DataFrame, corpus: DataFrame,
                  k: int) -> DataFrame:
    """FAISS-style refine tail shared by pq_knn and ivfpq_knn: exactly
    re-rank a (q_id, c_id) shortlist by cosine on the true vectors —
    R·|queries| vector reads, independent of corpus size. Output matches
    the exact tiers: (q_id, c_id, cos_sim, rnk)."""
    cv = corpus.selectExpr("vec_id AS c_id",
                           "embedding AS c_vec",
                           f"{l2_norm_sql('embedding')} AS c_norm")
    qn = queries.selectExpr("vec_id AS q_id",
                            "embedding AS q_vec",
                            f"{l2_norm_sql('embedding')} AS q_norm")
    pairs = short.join(cv, "c_id").join(F.broadcast(qn), "q_id")
    sim = (f"{dot_product_sql('q_vec', 'c_vec')}"
           f" / (q_norm * c_norm)")
    return _rank_topk(
        pairs.selectExpr("q_id", "c_id",
                         f"{stable_round_sql(sim, 6)} AS __sim"), k)


def pq_knn(queries: DataFrame, corpus: DataFrame, k: int = 5, m: int = 4,
           codebook: int = 16, iters: int = 1, dim: int = 64,
           normalize: bool = True, refine: int | None = None) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI'11): the
    memory-bound scale tier — each corpus vector compresses to m small
    codes, and query scoring never touches the original vectors.

    Train: the vector splits into m contiguous subvectors; each subspace
    fits its own `codebook`-centroid k-means (`_kmeans_fit`, shared
    contract). Encode: a vector's code in subspace s is its nearest
    subspace centroid — the corpus becomes (vec_id, code_0..code_{m-1}),
    m ints per vector regardless of dim. Both halves are lazily
    localCheckpoint'ed: the trainer's broadcast-assign lineage never
    reaches the serving plan.

    Score (ADC — asymmetric distance): each query precomputes its
    partial squared-L2 to every subspace centroid (m*codebook doubles
    per query, a tiny broadcast table); a corpus row's approximate
    distance is the sum of m lookups joined on its codes — equi-joins
    only, rank-pruned per query. At 100 TB the codes table is ~1000x
    smaller than the vectors and the scan reads no embedding bytes.

    Partial distances round at 6 (the kmeans contract) and the m-term
    sum adds left-to-right identically on both engines; output is
    (q_id, c_id, adc_dist rounded 4, rnk), ascending distance, ties to
    the lower candidate id.

    ``refine=R`` (r8, same knob as `ivfpq_knn`): 16-bit codes shortlist
    well but cannot RANK fine within-neighborhood structure — the ADC
    top-R per query is exactly re-ranked by cosine on the true vectors
    (`_exact_rerank`, R·|queries| vector reads, corpus-size
    independent). With refine the output is (q_id, c_id, cos_sim, rnk)
    like the exact tiers. ``normalize=True`` (default): both sides
    L2-normalize first (see `_unit`). A query is never its own neighbor.
    """
    if normalize:
        corpus = _unit(corpus, "vec_id", "embedding")
        queries = _unit(queries, "vec_id", "embedding")
    codes, cents_list = _pq_fit_encode(corpus, m, codebook, iters, dim)
    qdf = queries.select(
        F.col("vec_id").alias("q_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("qe"))
    pds = _pq_query_dists(qdf, cents_list, dim // m)
    if refine is None:
        return _adc_topk(codes, pds, m, k)
    short = _adc_topk(codes, pds, m, refine).select("q_id", "c_id")
    return _exact_rerank(short, queries, corpus, k)


def _pq_fit_encode(corpus: DataFrame, m: int, codebook: int, iters: int,
                   dim: int) -> tuple[DataFrame, list[DataFrame]]:
    """PQ train/encode half: split the corpus vector into m contiguous
    subvectors, fit a `codebook`-centroid k-means per subspace
    (`_kmeans_fit` contract), and return (codes, [cents_0..cents_{m-1}])
    where codes is the encoded corpus (vec_id, k0..k{m-1}) — trainer
    lineage checkpointed away on both halves.

    All m subspace fits run as ONE job set grouped by a subspace column
    `s` (r8: the sequential per-subspace loop serialized m×(iters+1)
    tiny Lloyd's jobs behind one another and measured 4.4s of an 8.7s
    ivfpq at sf0.1; merged, the same arithmetic is one pipeline whose
    broadcast codebook is m·codebook rows). Numerics are unchanged —
    per-subspace seeds are the codebook lowest vec_ids (every vec_id
    appears in every subspace, so the per-s seed SET equals the old
    per-subspace TakeOrdered), distances/centroid components round
    through the same stable_round(6), argmin ties break to the lower
    cid, and means use the same avg over the same groups — so the
    DuckDB oracle (`_pq_sql`) needs no change; hash parity verifies it.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    w = dim // m
    # (s, vec_id, e): each vector contributes one row per subspace with
    # its s-th slice cast to double — m× the rows at 1/m the width.
    # One selectExpr parse (r15) instead of ~3m py4j HOF/struct calls.
    parts = ", ".join(
        f"named_struct('s', CAST({s} AS INT), 'e', "
        f"transform(slice(embedding, {s * w + 1}, {w}), "
        f"x -> CAST(x AS DOUBLE)))"
        for s in range(m))
    v = (corpus.selectExpr("vec_id AS vec_id",
                           f"explode(array({parts})) AS __sv")
               .selectExpr("vec_id", "__sv.s AS s", "__sv.e AS e"))
    sw = Window.partitionBy("s").orderBy("vec_id")
    cents = (v.withColumn("__r", F.row_number().over(sw))
              .filter(F.col("__r") <= codebook)
              .select("s", (F.col("__r") - 1).cast("long").alias("cid"),
                      F.col("e").alias("cent")))

    def assign(cent_df: DataFrame) -> DataFrame:
        # same partial-aggregable min(struct(d, cid, e)) argmin as
        # `_kmeans_fit`, keyed by (s, vec_id) instead of vec_id; one
        # selectExpr parse per pass (r15)
        pairs = v.join(F.broadcast(cent_df), "s")
        d = stable_round_sql(sq_dist_sql("e", "cent"), 6)
        return (pairs.selectExpr(
                    "s", "vec_id",
                    f"named_struct('d', {d}, 'cid', cid, 'e', e) AS __s")
                     .groupBy("s", "vec_id").agg(F.min("__s").alias("__s"))
                     .selectExpr("s", "vec_id", "__s.e AS e",
                                 "__s.cid AS cid"))

    for _ in range(iters):
        assigned = assign(cents)
        dims = assigned.select("s", "cid", F.posexplode("e").alias("dim", "x"))
        means = dims.groupBy("s", "cid", "dim").agg(F.avg("x").alias("m"))
        cents = (means.groupBy("s", "cid")
                      .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                            .alias("__dm"))
                      .selectExpr(
                          "s", "cid",
                          f"transform(__dm, st -> "
                          f"{stable_round_sql('st.m', 6)}) AS cent")
                      .localCheckpoint(eager=False))
    if iters == 0:
        # the loop checkpoints each iteration's cents; only the
        # never-iterated seed codebook still needs its own barrier here
        cents = cents.localCheckpoint(eager=False)
    codes = (assign(cents)
             .groupBy("vec_id")
             .agg(*[F.max(F.when(F.col("s") == s, F.col("cid"))).alias(f"k{s}")
                    for s in range(m)]))
    # codes stays un-checkpointed: both consumers (pq ADC, ivfpq candidate
    # join) read it exactly once, so a checkpoint is a pure extra job
    # (r15 A/B, sf0.1: pq_knn 4.02 -> 3.46s without it, ivfpq a wash)
    cents_list = [cents.filter(F.col("s") == s).select("cid", "cent")
                  for s in range(m)]
    return codes, cents_list


def _pq_query_dists(qdf: DataFrame, cents_list: list[DataFrame], w: int,
                    key_cols: tuple[str, ...] = ("q_id",)
                    ) -> list[DataFrame]:
    """ADC partial-distance tables: `qdf` carries `key_cols` + a full
    query vector `qe` (double components); subspace s's table is
    (key_cols..., k{s}, d{s}) — the squared L2 from qe's s-th slice to
    every subspace centroid, one tiny broadcast per subspace. For the
    residual IVFADC path key_cols includes the probed cell, so each
    (query, cell) pair gets its own lookup row set."""
    pds = []
    for s, cents in enumerate(cents_list):
        qs = qdf.selectExpr(*key_cols,
                            f"slice(qe, {s * w + 1}, {w}) AS __qs")
        d = stable_round_sql(sq_dist_sql("__qs", "cent"), 6)
        pd_s = (qs.join(F.broadcast(cents), F.lit(True))
                  .selectExpr(*key_cols, f"cid AS k{s}", f"{d} AS d{s}"))
        pds.append(pd_s)
    return pds


def _adc_topk(cand: DataFrame, pds: list[DataFrame], m: int, k: int,
              key_cols: tuple[str, ...] = ("q_id",)) -> DataFrame:
    """ADC scoring tail shared by pq_knn and ivfpq_knn: join the m
    partial-distance tables onto the (possibly bucket-restricted)
    candidate codes, drop each query's own row, sum left-to-right,
    rank-prune per query. Join keys
    are the code column plus whichever of `key_cols` the candidate set
    already carries (pq's first join has no q_id yet; the residual
    IVFADC candidates carry q_id AND the probed cell)."""
    for s, pd_s in enumerate(pds):
        on = [f"k{s}"] + [c for c in key_cols if c in cand.columns]
        cand = cand.join(F.broadcast(pd_s), on)
    cand = cand.filter(F.col("q_id") != F.col("vec_id"))
    ad = F.col("d0")
    for s in range(1, m):
        ad = ad + F.col(f"d{s}")
    scored = cand.select("q_id", F.col("vec_id").alias("c_id"),
                         ad.alias("__ad"))
    rw = Window.partitionBy("q_id").orderBy("__ad", "c_id")
    return (scored.withColumn("rnk", F.row_number().over(rw))
                  .filter(F.col("rnk") <= k)
                  .select("q_id", "c_id",
                          stable_round(F.col("__ad"), 4).alias("adc_dist"),
                          F.col("rnk").cast("long").alias("rnk")))


def ivfpq_knn(queries: DataFrame, corpus: DataFrame, k: int = 5,
              nprobe: int = 2, coarse_k: int = 8, coarse_iters: int = 2,
              m: int = 4, codebook: int = 16, pq_iters: int = 1, dim: int = 64,
              refine: int | None = None) -> DataFrame:
    """IVFADC (Jégou et al., TPAMI'11 §IV, the FAISS-shaped index): a
    trained coarse quantizer routes each query to its nprobe nearest
    cells by squared L2 (the metric ADC scores in, unlike `ivf_knn`'s
    cosine routing), and PQ/ADC scoring runs ONLY over the codes of the
    probed cells — composing both prunes: IVF bounds WHICH rows are
    scored, PQ bounds WHAT the scoring reads (codes, never embedding
    bytes).

    RESIDUAL encoding (the paper's formulation, r8 — raw-vector PQ put
    clustered-fixture recall@5 at 0.39 because the codebook spent its 16
    centroids per subspace spanning BETWEEN-cell structure the coarse
    quantizer already captured): PQ trains on and encodes the residual
    ``x − c(cell(x))``, so the codebook spans only within-cell
    variation; the query side re-centers per probed cell, giving each
    (query, cell) pair its own ADC lookup table — nprobe× more rows in a
    still-tiny broadcast. One codebook set shared across cells (FAISS's
    practical variant, not coarse_k sets), so the encode step stays
    cell-independent and survives cell rebalancing at 100 TB. Residual
    components round through stable_round(6) (engine-portable) before
    the PQ trainer sees them. Coarse assignment and PQ codes are both
    checkpointed serving-side tables; all joins are equi-joins after the
    broadcast training lookups.

    Both sides L2-normalize first (see `_unit`) so the L2 index ranks in
    the cosine metric the ladder grades against. ``refine=R`` adds the
    FAISS-style refine stage: the ADC top-R shortlist per query is
    exactly re-ranked by cosine on the
    true vectors — R·|queries| vector reads, independent of corpus
    size, lifting clustered-fixture recall@5 from 0.38 (pure 16-bit
    ADC, which cannot rank iid within-cell noise) to 0.79/0.90 at
    R=25/50. With refine the output is (q_id, c_id, cos_sim, rnk) like
    the exact tiers; without it, (q_id, c_id, adc_dist, rnk). A query is
    never its own neighbor.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    corpus = _unit(corpus, "vec_id", "embedding")
    queries = _unit(queries, "vec_id", "embedding")
    cents, assigned = _kmeans_fit(corpus, coarse_k, coarse_iters,
                                  ckpt_each_iter=True)
    # cents comes back already checkpointed (ckpt_each_iter materializes
    # the last iteration's codebook); re-checkpointing it was a pure
    # extra copy job. The cell label and the residual both derive from
    # the SAME final assign pass, so they are materialized as ONE
    # checkpointed relation (r15: the r14 form checkpointed lab and resc
    # separately, executing the full corpus assign twice — one whole
    # corpus pass saved here, at any scale).
    resid = stable_round_sql("x - y", 6)
    base = (assigned
            .join(F.broadcast(cents.withColumnRenamed("cid", "__ccid")),
                  F.col("cid") == F.col("__ccid"))
            .selectExpr("vec_id", "cid AS __cell",
                        f"zip_with(e, cent, (x, y) -> {resid})"
                        " AS embedding")
            .localCheckpoint(eager=False))
    lab = base.select("vec_id", "__cell")
    resc = base.select("vec_id", "embedding")
    qv = queries.selectExpr(
        "vec_id AS q_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS qe")
    qc = qv.join(F.broadcast(cents), F.lit(True))
    rd = stable_round_sql(sq_dist_sql("qe", "cent"), 6)
    rw = Window.partitionBy("q_id").orderBy("__rd", "__cell")
    routed = (qc.selectExpr("q_id", "qe", "cid AS __cell",
                            f"{rd} AS __rd")
                .withColumn("__r", F.row_number().over(rw))
                .filter(F.col("__r") <= nprobe)
                .select("q_id", "qe", "__cell"))
    codes, cents_list = _pq_fit_encode(resc, m, codebook, pq_iters, dim)
    # query residual PER PROBED CELL: the ADC tables become
    # (q_id, __cell, k_s, d_s) — asymmetric distance against the
    # re-centered query, matching how the corpus side was encoded
    qres = (routed
            .join(F.broadcast(cents), routed["__cell"] == cents["cid"])
            .selectExpr("q_id", "__cell",
                        f"zip_with(qe, cent, (x, y) -> {resid}) AS qe"))
    pds = _pq_query_dists(qres, cents_list, dim // m,
                          key_cols=("q_id", "__cell"))
    cand = (codes.join(lab, "vec_id")
                 .join(F.broadcast(routed.select("q_id", "__cell")),
                       "__cell"))
    if refine is None:
        return _adc_topk(cand, pds, m, k, key_cols=("q_id", "__cell"))
    short = _adc_topk(cand, pds, m, refine,
                      key_cols=("q_id", "__cell")).select("q_id", "c_id")
    return _exact_rerank(short, queries, corpus, k)


def multiprobe_signlsh_knn(queries: DataFrame, corpus: DataFrame, k: int = 5,
                           planes: int = 8, dim: int = 64, probes: int = 3,
                           tables: int = 1, max_flip: int = 1) -> DataFrame:
    """Multi-probe sign-LSH kNN (Lv et al., VLDB'07 multi-probe idea on
    Charikar hyperplane LSH): the third ANN tier, needing neither a label
    (embedding_near_dup) nor a trained codebook (knn_ivf) — just the
    vectors.

    Corpus side: each vector's bucket is `planes` sign bits of dot
    products against the fixed md5-derived hyperplane matrix
    (operators.dedup.signlsh_weights) — a pure codegen'd fold per row, NO
    shuffle to assign buckets, so at 100 TB the corpus would be written
    partitioned by bucket once and probed with partition pruning.

    Query side: probe the query's own bucket plus the buckets at Hamming
    distance 1 on its `probes - 1` lowest-|margin| planes — the planes
    where the sign bit is least confident are exactly the ones a true
    neighbor most likely landed on the other side of. Probing multiplies
    recall without the bucket-count explosion of repeated salted tables;
    candidates still only meet in an equi-join on the bucket id. Margins
    and cosines round through the engine-portable stable_round so probe
    choice and ranking are reproducible across engines (ties: lower plane
    index, then lower candidate id).

    ``tables=T`` (r8) is the OTHER classic LSH recall knob: T
    independently-salted hyperplane sets, each probed the same way, the
    candidate id-sets unioned and deduplicated before ONE exact rerank.
    Recall compounds (measured candidate coverage of the clustered
    fixture's cosine top-5: 0.17 → 0.33 at T=2) at linear cost — per
    extra table, one more scan-side bucket expression and one more
    bucket equi-join; the rerank reads each distinct candidate once.
    Table t>0 salts as ``slsh-t{t}``, so tables=1 is bit-identical to
    the historical single-table operator. A query is never its own
    neighbor.
    """
    from .dedup import (signlsh_bits_from_dots, signlsh_bucket_bits,
                        signlsh_dots)

    max_perts = (planes if max_flip == 1
                 else planes + planes * (planes - 1) // 2)
    assert 1 <= probes <= max_perts + 1
    assert tables >= 1
    assert max_flip in (1, 2)
    v = F.col("embedding")

    def table_probes(tsalt: str, t: int) -> DataFrame:
        # the query side needs both the bucket AND the per-plane margins:
        # derive both from ONE dots array (historically each plane's dot
        # was a separate fold computed twice — once for the bucket bits,
        # once for the margin)
        dots = signlsh_dots(v, planes, dim, tsalt)
        if max_flip == 1:
            pm = F.array(*[
                F.struct(F.lit(p).alias("p"),
                         F.lit(2 ** p).cast("long").alias("mask"))
                for p in range(planes)])
            # margin = |rounded dot|, abs AFTER the engine-portable
            # rounding so it is exactly abs(d) of the oracle's per-plane
            # d — rounding the abs instead diverges for negative dots on
            # half-microstep boundaries
            margins = F.zip_with(
                dots, pm,
                lambda d, s: F.struct(F.abs(d).alias("m"),
                                      s["p"].alias("p"),
                                      s["mask"].alias("mask")))
            q0 = queries.select(
                F.col("vec_id").alias("q_id"),
                signlsh_bits_from_dots(dots, planes).alias("q_bk"),
                F.slice(F.array_sort(margins), 1,
                        probes - 1).alias("__flips"))
        else:
            # Hamming-2 perturbation sets (Lv et al. VLDB'07 §4): the
            # probe candidates are every single-plane flip PLUS every
            # plane PAIR, scored by summed |margin| — a two-bit probe
            # whose two margins are both tiny outranks a single flip of
            # a confident plane, and the reachable bucket set grows from
            # `planes` to planes*(planes+1)/2 without another table.
            # dots is projected to a column first so the 36 struct
            # expressions reference it instead of re-inlining the
            # hyperplane fold per struct (CollapseProject would not
            # merge, but expression TREES would still duplicate).
            qd = queries.select(F.col("vec_id").alias("q_id"),
                                dots.alias("__dots"))
            dcol = F.col("__dots")
            # ties: score, then lower mask (for singles that IS the
            # plane-index tie-break of the max_flip=1 path). The
            # planes*(planes+1)/2 perturbation structs are one F.expr
            # SQL parse (r14): built per-Column they cost ~300 py4j
            # round trips per table — measured 1.4s of the 3-table
            # knn_multiprobe build.
            ab = [f"abs(element_at(__dots, {p + 1}))"
                  for p in range(planes)]
            perts = [f"named_struct('m', {ab[p]}, "
                     f"'mask', CAST({2 ** p} AS BIGINT))"
                     for p in range(planes)]
            perts += [
                f"named_struct('m', {ab[i]} + {ab[j]}, "
                f"'mask', CAST({2 ** i + 2 ** j} AS BIGINT))"
                for i in range(planes) for j in range(i + 1, planes)]
            q0 = qd.select(
                "q_id",
                signlsh_bits_from_dots(dcol, planes).alias("q_bk"),
                F.slice(F.array_sort(
                    F.expr("array(" + ",".join(perts) + ")")), 1,
                        probes - 1).alias("__flips"))
        probe_buckets = F.concat(
            F.array(F.col("q_bk")),
            F.transform(F.col("__flips"),
                        lambda s: F.col("q_bk").bitwiseXOR(s["mask"])))
        return q0.select("q_id", F.lit(t).cast("int").alias("__t"),
                         F.explode(probe_buckets).alias("bk"))

    salts = ["slsh" if t == 0 else f"slsh-t{t}" for t in range(tables)]
    # Corpus side: ONE scan computes EVERY table's bucket id (r9 —
    # previously each table re-scanned the corpus for its own bucket
    # join, so T tables cost T parquet passes; the per-vector hashing
    # arithmetic is identical either way, the saved work is the scan).
    # (c_id, table, bucket) explodes to T rows per vector and meets the
    # tagged query probes in one broadcast equi-join on (table, bucket);
    # the candidate SET — and therefore every downstream value — is
    # bit-identical to the per-table form, so the oracle is untouched.
    tb = F.array(*[
        F.struct(F.lit(t).cast("int").alias("__t"),
                 signlsh_bucket_bits(v, planes, dim, s).alias("bk"))
        for t, s in enumerate(salts)])
    c_all = (corpus.select(F.col("vec_id").alias("c_id"),
                           F.explode(tb).alias("__e"))
                   .select("c_id", F.col("__e.__t").alias("__t"),
                           F.col("__e.bk").alias("bk")))
    qp_all = None
    for t, s in enumerate(salts):
        qp = table_probes(s, t)
        qp_all = qp if qp_all is None else qp_all.unionByName(qp)
    cand_ids = (c_all.join(F.broadcast(qp_all), ["__t", "bk"])
                     .select("q_id", "c_id"))
    # a candidate found by several tables (or several probes across
    # tables) reranks once
    cand_ids = (cand_ids.dropDuplicates(["q_id", "c_id"])
                        .filter(F.col("q_id") != F.col("c_id")))
    cv = corpus.select(F.col("vec_id").alias("c_id"), v.alias("c_vec"),
                       l2_norm(v).alias("c_norm"))
    qv = queries.select(F.col("vec_id").alias("q_id"), v.alias("q_vec"),
                        l2_norm(v).alias("q_norm"))
    cand = cand_ids.join(cv, "c_id").join(F.broadcast(qv), "q_id")
    sim = dot_product(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    return _rank_topk(cand.select("q_id", "c_id",
                                  stable_round(sim, 6).alias("__sim")), k)


# ---------------------------------------------------------------------------
# persisted / incremental IVF index (write-once, query-many)


def _route_to_codebook(queries: DataFrame, cents: DataFrame,
                       nprobe: int, id_col: str,
                       vec_col: str) -> DataFrame:
    """Route a query batch to its nprobe nearest stored centroids by
    cosine: (q_id, q_vec, q_norm, cid). Touches ONLY the k-row codebook
    — zero corpus bytes (the property test_ivf_index_routing_reads_
    zero_corpus_bytes pins on the plan). Cosines quantize at 6 decimals
    before the rank, ties to the lower cid — the ivf_knn contract."""
    cb = cents.select("cid", "cent", l2_norm(F.col("cent")).alias("__cn"))
    q = queries.select(F.col(id_col).alias("q_id"),
                       F.col(vec_col).alias("q_vec"),
                       l2_norm(F.col(vec_col)).alias("q_norm"))
    csim = (dot_product(F.col("q_vec"), F.col("cent"))
            / (F.col("q_norm") * F.col("__cn")))
    wq = Window.partitionBy("q_id").orderBy(F.col("__cs").desc(), "cid")
    return (q.join(F.broadcast(cb), F.lit(True))
             .select("q_id", "q_vec", "q_norm", "cid",
                     stable_round(csim, 6).alias("__cs"))
             .withColumn("__r", F.row_number().over(wq))
             .filter(F.col("__r") <= nprobe)
             .select("q_id", "q_vec", "q_norm", "cid"))


def _rerank_in_buckets(routed: DataFrame, vectors: DataFrame,
                       k: int) -> DataFrame:
    """Exact cosine rerank confined to the probed buckets: the bucket
    table joins the broadcast routed set on cid, so only probed
    partitions are read (partition pruning when `vectors` is a
    cid-partitioned parquet index)."""
    c = vectors.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec"),
                       l2_norm(F.col("embedding")).alias("c_norm"), "cid")
    cand = c.join(F.broadcast(routed), "cid")
    sim = (dot_product(F.col("q_vec"), F.col("c_vec"))
           / (F.col("q_norm") * F.col("c_norm")))
    return _rank_topk(cand.select("q_id", "c_id",
                                  stable_round(sim, 6).alias("__sim")), k)


#: Assign-pass cost gate shared by every corpus-scaled k-means caller
#: (the semantic_dedup convention): below ~50M n*k distance folds the
#: routed path's fixed overhead (mini-trainer jobs + collects +
#: checkpoints, ~8s measured at sf1) outweighs the saved folds —
#: measured exact 15.3s vs routed 23.6s at n*k=1.6M, and exact 452s vs
#: routed ~41-88s at n*k=160M (`git show 2faeba1:SCALE10_r08.json`).
#: Every oracle-verified SF sits far below the gate, so hash parity
#: always runs the exact bit-identical assign.
ROUTED_FOLD_GATE = 50_000_000


def use_routed_assign(n: int, k: int) -> bool:
    """True when the exact assign's n*k distance folds cross
    :data:`ROUTED_FOLD_GATE` — the pure decision both the IVF builders
    and semantic_dedup share (unit-tested; r13: build_ivf_index /
    incremental_knn had auto-scaling k ~ sqrt(n) without this gate, so
    their training term silently grew n^1.5 — SCALE10 measured the
    auto-k decade step at 24x before, ~linear after)."""
    return n * k > ROUTED_FOLD_GATE


def auto_kclusters_from_count(n: int) -> int:
    """The √n codebook-sizing formula shared by every auto-k caller
    (:func:`auto_kclusters`, :func:`build_ivf_index`,
    :func:`incremental_knn`) — single-sourced so a revision of the
    k ≈ √n convention cannot drift between the builders (ADVICE r13)."""
    import math
    return max(8, int(round(math.sqrt(n))))


def auto_kclusters(corpus: DataFrame) -> int:
    """Corpus-scaled codebook size: ``max(8, round(sqrt(n)))`` —
    the FAISS sizing convention (k ≈ √n keeps both the codebook scan
    and the mean bucket size at √n, so per-query probe cost grows as
    √n per 10x data instead of linearly). One counting job at build
    time (the adaptive_r measure-then-switch convention). A codebook
    that is never re-sized as the corpus grows 10x/decade silently
    degrades to linear bucket scans — the default must be the
    scale-safe composition."""
    return auto_kclusters_from_count(corpus.count())


def build_ivf_index(corpus: DataFrame, path: str, kclusters: int | None = None,
                    iters: int = 2) -> None:
    """Train and PERSIST the write-once IVF index: ``{path}/codebook``
    (the k-row (cid, cent) table) and ``{path}/vectors`` (the corpus
    vectors parquet-partitioned by cid — the on-disk layout that lets
    every later query batch prune unprobed buckets at the scan).

    This is the minhash family's write-once band-index shape
    (incremental_minhash_pairs) applied to the ANN tier: train once,
    route every subsequent batch without touching old corpus rows.
    At 100 TB the vectors write is the one full-corpus pass; the
    codebook is k*dim doubles. ``kclusters`` defaults to
    :func:`auto_kclusters` (≈√n) so the persisted index's bucket size
    stays bounded as the corpus grows; pass an explicit k to pin it —
    the pinned path is fully deterministic (always the exact
    bit-identical assign, no counting job; ADVICE r13). On the auto-k
    path, above :data:`ROUTED_FOLD_GATE` assign folds the training
    passes switch to coarse-cell routing (n*2*sqrt(2k) per pass
    instead of n*k — with k ~ sqrt(n) the exact assign is n^1.5, so
    the gate is what keeps the auto-k build linear per decade; an
    explicit k has no n^1.5 exposure, its assign is n*k by choice)."""
    routed = False
    if kclusters is None:
        n = corpus.count()
        kclusters = auto_kclusters_from_count(n)
        routed = use_routed_assign(n, kclusters)
    cents, asg = _kmeans_fit(corpus, kclusters, iters, ckpt_each_iter=True,
                             routed=routed)
    cents.write.mode("overwrite").parquet(f"{path}/codebook")
    (asg.select("vec_id", F.col("e").alias("embedding"), "cid")
        .write.mode("overwrite").partitionBy("cid")
        .parquet(f"{path}/vectors"))


def query_ivf_index(spark, path: str, queries: DataFrame, k: int = 5,
                    nprobe: int = 2) -> DataFrame:
    """Search a :func:`build_ivf_index` index with a NEW query batch:
    route against the stored codebook (k rows — zero corpus bytes),
    then exact-rerank inside the probed cid partitions only. Output
    (q_id, c_id, cos_sim, rnk), the ANN-ladder shape."""
    cents = spark.read.parquet(f"{path}/codebook")
    vectors = spark.read.parquet(f"{path}/vectors")
    routed = _route_to_codebook(queries, cents, nprobe, "vec_id", "embedding")
    return _rerank_in_buckets(routed, vectors, k)


def incremental_knn(queries: DataFrame, corpus: DataFrame, k: int = 5,
                    nprobe: int = 2, kclusters: int | None = None,
                    iters: int = 2) -> DataFrame:
    """The day-over-day ANN shape as one composed plan (the registry /
    oracle surface for the persisted-index path): train the codebook on
    the EXISTING corpus only, assign its rows once (the write-once
    index — materialized via lazy localCheckpoint here, parquet in
    :func:`build_ivf_index`), then route the NEW batch against the
    stored codebook and rerank inside the probed buckets. Identical
    routing/rerank code to :func:`query_ivf_index`, so the oracle
    parity transfers to the persisted path byte-for-byte (pinned by
    test_ivf_index_persisted_equals_inline).

    Differs from knn_ivf_trained in exactly the incremental semantics:
    queries are NOT part of the trained corpus, and routing uses the
    STORED codebook rather than recomputed assignment means — no part
    of the index is touched by the new batch. ``kclusters`` defaults to
    :func:`auto_kclusters` (≈√n of the existing corpus) so the default
    composition keeps bucket size bounded as the corpus grows; the
    registry query pins k=8 to match its oracle, and a pinned k is
    fully deterministic — always the exact bit-identical assign, no
    counting job (ADVICE r13). On the auto-k path, above
    :data:`ROUTED_FOLD_GATE` assign folds the training passes switch
    to coarse-cell routing (the build_ivf_index note: with k ~ sqrt(n)
    the exact assign is n^1.5; the gate keeps the default linear)."""
    routed = False
    if kclusters is None:
        n = corpus.count()
        kclusters = auto_kclusters_from_count(n)
        routed = use_routed_assign(n, kclusters)
    cents, asg = _kmeans_fit(corpus, kclusters, iters, ckpt_each_iter=True,
                             routed=routed)
    index = (asg.select("vec_id", F.col("e").alias("embedding"), "cid")
                .localCheckpoint(eager=False))
    routed = _route_to_codebook(queries, cents, nprobe, "vec_id", "embedding")
    return _rerank_in_buckets(routed, index, k)
