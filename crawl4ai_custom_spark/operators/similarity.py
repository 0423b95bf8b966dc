"""Similarity search over embedding columns: brute-force + LSH-bucketed ANN.

Two paths over ``embeddings(vec_id, embedding array<float>, label)``:

  brute_force_topk   exact cosine top-k per query (cross join + window) —
                     the baseline; fine when |queries| * |corpus| fits a
                     shuffle, and the correctness oracle for the ANN path.
  lsh_topk           random-hyperplane LSH: sign-pattern bucket per vector,
                     probe only same-bucket (multi-probe: Hamming<=1
                     neighbors) candidates -> top-k. The scale path:
                     candidate set shrinks ~2^bits-fold.

Hyperplanes are taken from the corpus itself (the embeddings of the
``n_planes`` smallest vec_ids) — deterministic, data-dependent, and exactly
reproducible in the SQL oracle (no RNG, no numpy state).

All dot products are native ``zip_with``+``aggregate`` expressions — the
whole ANN pipeline is JVM-side; no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import spread_scan


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda s, x: s + x)


def cosine(a: Column, b: Column) -> Column:
    return (_dot(a, b) /
            (F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x)) *
             F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x)))).cast("double")


def _norm(c: Column) -> Column:
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k); excludes self-pairs.
    Exact: full cross join; the corpus side should be the big one — Spark
    broadcasts the (small) query side automatically under AQE.

    Norms are computed ONCE PER ROW on each side before the cross join
    (guide §2.3: don't recompute per pair what is constant per row): the
    inline ``cosine(a, b)`` form re-folds both norm aggregates for every
    (query, corpus) pair — 2/3 of the per-pair interpreted HOF work for
    the same doubles. ``dot/(qnorm*cnorm)`` is the identical expression
    tree evaluation order, so results are bit-identical."""
    # single-row-group corpus files otherwise feed the whole per-pair
    # scoring fold into ONE task (guide §2.5 unsplittable-input fix)
    c = spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cnorm", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qnorm", _norm(F.col("qv")))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            (_dot(F.col("qv"), F.col("cv"))
             / (F.col("qnorm") * F.col("cnorm"))).cast("double"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("cosine").cast("double").alias("cosine"), "rank")
    )


def data_hyperplanes(corpus: DataFrame, n_planes: int = 8,
                     id_col: str = "vec_id", vec_col: str = "embedding"
                     ) -> DataFrame:
    """The n_planes corpus vectors with smallest ids, used as hyperplanes —
    deterministic and oracle-reproducible."""
    return (
        corpus.orderBy(F.asc(id_col))
        .limit(n_planes)
        .select(
            F.col(id_col).alias("plane_id"),
            F.col(vec_col).cast("array<double>").alias("plane"),
        )
    )


def hyperplane_bucket(df: DataFrame, planes: DataFrame,
                      id_col: str = "vec_id", vec_col: str = "embedding"
                      ) -> DataFrame:
    """Adds ``bucket`` = sign-pattern integer over the hyperplanes.

    The planes collapse to ONE broadcast row holding the (plane_id-sorted)
    plane array, and the sign pattern is a single per-row array fold —
    bit i set iff dot(v, plane_i) >= 0, weights doubling through the fold
    exactly as the old shiftleft(1, rank) weighted sum did. The previous
    shape (explode ×n_planes -> groupBy(id) -> join back on id) paid two
    exchanges and an n_planes-fold row blowup for what is a per-row
    computation; this one adds zero exchanges to the caller's plan."""
    planes_arr = planes.agg(F.sort_array(F.collect_list(
        F.struct(F.col("plane_id").alias("pid"), F.col("plane"))
    )).alias("_planes"))
    v = F.col(vec_col).cast("array<double>")
    bucket = F.aggregate(
        F.col("_planes"),
        F.struct(F.lit(0).cast("long").alias("b"),
                 F.lit(1).cast("long").alias("w")),
        lambda acc, p: F.struct(
            (acc["b"] + F.when(_dot(v, p["plane"]) >= 0, acc["w"])
             .otherwise(F.lit(0).cast("long"))).alias("b"),
            (acc["w"] * F.lit(2)).alias("w"),
        ),
        lambda acc: acc["b"],
    )
    return (
        df.crossJoin(F.broadcast(planes_arr))
        .withColumn("bucket", bucket)
        .drop("_planes")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: bucket corpus+queries by hyperplane signs, probe the own
    bucket (+ Hamming-1 neighbor buckets when multiprobe), rank by cosine."""
    planes = data_hyperplanes(corpus, n_planes, id_col, vec_col)
    corpus = spread_scan(corpus)  # bucket+score folds are per-row CPU
    cb = hyperplane_bucket(corpus, planes, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        F.col("bucket").alias("cbucket"),
    ).withColumn("cnorm", _norm(F.col("cv")))
    qb = hyperplane_bucket(queries, planes, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.col("bucket").alias("qbucket"),
    ).withColumn("qnorm", _norm(F.col("qv")))
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        qb = qb.withColumn("probe", F.explode(probes))
    else:
        qb = qb.withColumn("probe", F.col("qbucket"))
    cand = qb.join(cb, qb.probe == cb.cbucket).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    # no dropDuplicates: a (query, neighbor) pair can match at most once —
    # the probe values [q, q^1, q^2, ..., q^2^(n-1)] are pairwise distinct
    # and every neighbor lives in exactly one bucket, so the dedup was a
    # no-op paying a full extra exchange of the candidate set. Norms are
    # per-row columns (same reasoning as brute_force_topk).
    scored = cand.withColumn(
        "cosine",
        (_dot(F.col("qv"), F.col("cv"))
         / (F.col("qnorm") * F.col("cnorm"))).cast("double"),
    ).select("query_id", "neighbor_id", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("cosine").cast("double").alias("cosine"), "rank")
    )


def data_centroids(corpus: DataFrame, n_centroids: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding"
                   ) -> DataFrame:
    """IVF coarse quantizer: the n_centroids corpus vectors with smallest
    ids (deterministic, oracle-reproducible — same convention as
    data_hyperplanes). A production deployment would k-means these; the
    assignment/probe dataflow below is identical either way."""
    return (
        corpus.orderBy(F.asc(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )


def ivf_assign(df: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               nprobe: int = 1) -> DataFrame:
    """Adds ``bucket`` = the centroid_id(s) with highest cosine; nprobe > 1
    emits one row per probed bucket (query-side multiprobe).

    The centroid table collapses to ONE broadcast row holding the sorted
    centroid array; the top-nprobe pick is a per-row sort of n_centroids
    (negated-cosine, centroid_id) structs — ascending struct order ==
    (cosine DESC, centroid_id ASC), the window's exact ordering. The
    previous shape exploded every row ×n_centroids, ran a corpus-wide
    window (full shuffle + sort on 8N rows) and joined the buckets BACK
    onto the corpus (second shuffle); this one adds zero exchanges."""
    cents_arr = centroids.agg(F.sort_array(F.collect_list(
        F.struct(F.col("centroid_id").alias("cid"), F.col("centroid"))
    )).alias("_cents"))
    v = F.col(vec_col).cast("array<double>")
    affs = F.transform(
        F.col("_cents"),
        lambda c: F.struct((-cosine(v, c["centroid"])).alias("nca"),
                           c["cid"].alias("cid")),
    )
    picks = F.slice(F.sort_array(affs), 1, nprobe)
    return (
        df.crossJoin(F.broadcast(cents_arr))
        .withColumn("bucket",
                    F.explode(F.transform(picks, lambda p: p["cid"])))
        .drop("_cents")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat ANN top-k: corpus rows live in their single nearest-centroid
    bucket; queries probe their nprobe nearest buckets; exact cosine + top-k
    within the probed candidates. The scale path next to lsh_topk — the
    candidate set shrinks ~n_centroids/nprobe-fold, and everything is
    native (broadcast centroid join, window rank, zip_with dot)."""
    cents = data_centroids(corpus, n_centroids, id_col, vec_col)
    corpus = spread_scan(corpus)  # assignment+score folds are per-row CPU
    cb = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "bucket",
    ).withColumn("cnorm", _norm(F.col("cv")))
    qb = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        "bucket",
    ).withColumn("qnorm", _norm(F.col("qv")))
    cand = qb.join(cb, "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    # no dropDuplicates: each corpus row lives in exactly one bucket
    # (nprobe=1 assignment) and a query's probed buckets are distinct, so
    # (query, neighbor) pairs are already unique — the dedup was a no-op
    # paying a full exchange. Norms precomputed per row, not per pair.
    scored = cand.withColumn(
        "cosine",
        (_dot(F.col("qv"), F.col("cv"))
         / (F.col("qnorm") * F.col("cnorm"))).cast("double"),
    ).select("query_id", "neighbor_id", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("cosine").cast("double").alias("cosine"), "rank")
    )


def _l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 between two array<double> columns — sequential left-to-
    right fold, same evaluation order as the SQL oracle's list_sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebooks(corpus: DataFrame, m: int = 4, n_codes: int = 16,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> DataFrame:
    """Product-quantization codebooks: (subspace, code, centroid slice).

    Same deterministic convention as data_centroids: the n_codes corpus
    vectors with smallest ids serve as the codebook (code = id rank), sliced
    per subspace — oracle-reproducible; a production deployment k-means each
    subspace, the encode/ADC dataflow below is identical either way."""
    w = Window.orderBy(F.asc("src_id"))
    base = (
        corpus.orderBy(F.asc(id_col)).limit(n_codes)
        .select(F.col(id_col).alias("src_id"),
                F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("code", F.row_number().over(w) - 1)
    )
    return base.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
        "code", "v",
    ).select(
        "subspace", "code",
        F.expr(f"slice(v, subspace * (size(v) div {m}) + 1,"
               f" size(v) div {m})").alias("centroid"),
    )


def _subspace_slices(df: DataFrame, m: int, id_col: str, vec_col: str
                     ) -> DataFrame:
    v = df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("v"))
    return v.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
        "v",
    ).select(
        "id", "subspace",
        F.expr(f"slice(v, subspace * (size(v) div {m}) + 1,"
               f" size(v) div {m})").alias("sv"),
    )


def pq_encode(df: DataFrame, codebooks: DataFrame, m: int = 4,
              id_col: str = "vec_id", vec_col: str = "embedding"
              ) -> DataFrame:
    """(id, subspace, code): each subvector snaps to its nearest codebook
    centroid (squared L2, ties to the lower code). Broadcast codebook join +
    one window — m*n_codes candidate rows per vector, all native."""
    sub = _subspace_slices(df, m, id_col, vec_col)
    scored = sub.join(F.broadcast(codebooks), "subspace").withColumn(
        "d2", _l2_sq(F.col("sv"), F.col("centroid"))
    )
    w = Window.partitionBy("id", "subspace").orderBy(F.asc("d2"), F.asc("code"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("id", "subspace", "code")
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, m: int = 4,
            n_codes: int = 16, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """PQ/ADC approximate top-k: corpus stored as m-byte codes; each query
    precomputes an (subspace, code) -> distance table against the codebooks
    and scores every corpus vector as the SUM of m table lookups
    (asymmetric distance computation — the memory-bound web-scale ANN
    layout; Jégou et al. 2011, public paper).

    approx_l2 is rounded BEFORE ranking so equal-code neighbors tie exactly
    and the (approx_l2, neighbor_id) order is engine-independent. Combine
    with IVF bucketing for sublinear scan at 10^10 vectors — this operator
    is the within-bucket scorer."""
    cb = pq_codebooks(corpus, m, n_codes, id_col, vec_col)
    ccodes = pq_encode(corpus, cb, m, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "subspace", "code"
    )
    qtab = _subspace_slices(queries, m, id_col, vec_col).join(
        F.broadcast(cb), "subspace"
    ).select(
        F.col("id").alias("query_id"), "subspace", "code",
        _l2_sq(F.col("sv"), F.col("centroid")).alias("d2"),
    )
    pairs = (
        ccodes.join(qtab, ["subspace", "code"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2") + 1e-9, 6).alias("approx_l2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_l2"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_l2", "rank")
    )


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
               n_centroids: int = 8, nprobe: int = 2, m: int = 4,
               n_codes: int = 16, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ: the production web-scale ANN layout — coarse centroids prune
    the scan to nprobe buckets, PQ/ADC scores only the surviving candidates.
    Pure composition of the two oracled parts: the bucket join shrinks the
    candidate set ~n_centroids/nprobe-fold, then codes are scored by table
    lookups instead of full vectors."""
    cents = data_centroids(corpus, n_centroids, id_col, vec_col)
    cb = pq_codebooks(corpus, m, n_codes, id_col, vec_col)
    cbuck = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"), "bucket"
    )
    ccodes = pq_encode(corpus, cb, m, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "subspace", "code"
    ).join(cbuck, "neighbor_id")
    qbuck = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), "bucket"
    )
    qtab = _subspace_slices(queries, m, id_col, vec_col).join(
        F.broadcast(cb), "subspace"
    ).select(
        F.col("id").alias("query_id"), "subspace", "code",
        _l2_sq(F.col("sv"), F.col("centroid")).alias("d2"),
    )
    cand = ccodes.join(qbuck, "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    ).dropDuplicates(["query_id", "neighbor_id", "subspace"])
    pairs = (
        cand.join(qtab, ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2") + 1e-9, 6).alias("approx_l2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_l2"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_l2", "rank")
    )


def knn_classify(
    unlabeled: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised k-NN label propagation — the seed-classifier stage
    of FineWeb-Edu / DCLM-style quality curation (public recipes): every
    unlabeled vector takes the majority label of its k nearest LABELED
    neighbors by cosine. Ties break by higher cosine mass, then
    lexicographically smaller label; the cosine-sum tie-break is rounded
    to 6 decimals so rankings are engine-independent (the same
    quantization convention as kmeans_lloyd's round-6 centroids).

    Returns (id, label_pred, votes, vote_frac) — vote_frac = votes/k is a
    confidence signal (< 1/k-quorum rows are the ones to re-annotate).

    Shape at 10^10 docs: the labeled seed set is small by construction
    (human/LLM-annotated) so it BROADCASTS into the cosine scoring — the
    corpus never shuffles except the per-doc top-k window keyed by the
    (uniform) unlabeled id, exactly the plan shape of the LM and
    hashed-ngram classifier scorers. When the seed set outgrows broadcast,
    swap the scoring for :func:`ivf_topk` over the same
    (query_id, neighbor_id, cosine) contract.

    Scoring is inlined rather than delegated to :func:`brute_force_topk`:
    the id spaces of ``labeled`` and ``unlabeled`` are independent, so
    brute_force_topk's query_id != neighbor_id self-exclusion would
    silently drop a legitimate seed that happens to share an id with the
    query doc."""
    q = unlabeled.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = labeled.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = q.crossJoin(F.broadcast(c)).select(
        "query_id", "neighbor_id",
        cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    nn = (
        scored.withColumn("_rk", F.row_number().over(wk))
        .where(F.col("_rk") <= k)
    )
    lab = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_lbl")
    )
    votes = (
        nn.join(F.broadcast(lab), "neighbor_id")
        .groupBy(F.col("query_id").alias("id"), F.col("_lbl"))
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.round(F.sum("cosine"), 6).alias("_cmass"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("votes"), F.desc("_cmass"), F.asc("_lbl")
    )
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            "id",
            F.col("_lbl").alias("label_pred"),
            "votes",
            (F.col("votes") / F.lit(float(k))).alias("vote_frac"),
        )
    )


def kmeans_lloyd(vectors: DataFrame, k: int = 8, iterations: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 checkpoint_dir: str | None = None,
                 return_centroids: bool = False):
    """Lloyd's k-means as iterative dataflow: init = the k smallest-id
    vectors (deterministic); each round broadcasts the centroids, assigns
    every vector to its max-cosine centroid, and recomputes each centroid
    as the element-wise member mean. Returns (id, cluster) assignments
    under the FINAL centroids; with ``return_centroids=True`` returns the
    tuple (assignments, centroids) — centroids as (cluster, centroid
    array<double>), the table SemDeDup's keeper rule scores against.

    Determinism contract: centroid coordinates are rounded to 6 decimals
    between rounds, so iteration inputs are bit-identical across engines
    and the SQL oracle replays the exact same trajectory (mean-reduction
    FP noise never compounds). Rounds materialize to parquet when
    checkpoint_dir is given (lineage truncation, same pattern as
    cluster_pairs/pagerank).

    Shape per round: one broadcast join + argmax window + a (cluster, dim)
    grouped mean — linear in |vectors| * dims, no driver state.
    """
    import os

    spark = vectors.sparkSession
    v = vectors.select(F.col(id_col).alias("id"),
                       F.col(vec_col).cast("array<double>").alias("v"))
    w0 = Window.orderBy(F.asc("id"))
    cents = (
        v.orderBy(F.asc("id")).limit(k)
        .withColumn("cluster", F.row_number().over(w0) - 1)
        .select("cluster",
                F.transform("v", lambda x: F.round(x, 6)).alias("centroid"))
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        scored = v.crossJoin(F.broadcast(cents_df)).withColumn(
            "aff", cosine(F.col("v"), F.col("centroid"))
        )
        w = Window.partitionBy("id").orderBy(F.desc("aff"), F.asc("cluster"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", "v", "cluster")
        )

    for it in range(iterations):
        a = assign(cents)
        dims = a.select(
            "cluster", F.posexplode("v").alias("dim", "val")
        )
        means = (
            dims.groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
        # clusters that lost every member keep their previous centroid
        cents = (
            cents.select("cluster", F.col("centroid").alias("_prev"))
            .join(means, "cluster", "left")
            .select("cluster", F.coalesce("centroid", "_prev").alias("centroid"))
        )
        if checkpoint_dir is not None:
            out = os.path.join(checkpoint_dir, f"centroids_{it % 2}")
            cents.write.mode("overwrite").parquet(out)
            cents = spark.read.parquet(out)

    out = assign(cents).select(F.col("id").alias(id_col), "cluster")
    if return_centroids:
        return out, cents
    return out


def feature_hash_projection(
    df: DataFrame,
    d_out: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1,
) -> DataFrame:
    """Count-sketch / feature-hashing random projection (Weinberger et
    al., ICML 2009; the sparse Johnson-Lindenstrauss family): every input
    dimension i lands in ONE output bucket h(i) with sign s(i), so
    out[j] = sum over {i : h(i)=j} of s(i)*x[i]. Inner products are
    preserved in expectation with variance ~ ||x||²||y||²/d_out — the
    standard way to shrink a 1536-dim embedding column to 64-256 dims
    before the ANN/dedup stack, cutting every downstream cosine, shuffle
    byte and signature in proportion.

    Unlike a dense Gaussian projection (d_in*d_out multiplies per row and
    a d_in*d_out matrix to ship), this is O(d_in) per row with NO model
    object at all: h and s come from the shared 60-bit hash of
    (seed, i), so any batch projected any time lands in the same space —
    the same "deterministic coefficients" contract the minhash family
    uses. Returns (id, proj array<double>) with every bucket present
    (absent buckets are exact 0.0).

    Shape: posexplode -> one (id, bucket) partial-agg sum -> per-id array
    rebuild. All native; linear; one exchange keyed by (id, bucket)."""
    if d_out < 2:
        raise ValueError(f"need d_out >= 2, got {d_out}")
    from .urlops import stable_hash60

    comp = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col).cast("array<double>"))
            .alias("i", "x"),
        )
        .select(
            "id",
            F.pmod(
                stable_hash60(F.concat_ws(":", F.lit(f"fh{seed}"),
                                          F.col("i"))),
                F.lit(d_out),
            ).alias("bucket"),
            F.when(
                stable_hash60(F.concat_ws(":", F.lit(f"fs{seed}"),
                                          F.col("i"))) % 2 == 0,
                F.col("x"),
            ).otherwise(-F.col("x")).alias("sx"),
        )
        .groupBy("id", "bucket")
        .agg(F.sum("sx").alias("comp"))
    )
    dense = comp.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "comp"))).alias("m"))
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(d_out - 1)),
        lambda j: F.coalesce(F.element_at("m", j), F.lit(0.0)),
    )
    # left join from the full id set: an empty/NULL embedding explodes to
    # no component rows, and element_at on the resulting NULL map
    # coalesces to 0.0 — such ids get the zero vector instead of silently
    # vanishing from the output (matching the oracle's zero-fill)
    base = df.select(F.col(id_col).alias("id")).distinct()
    return base.join(dense, "id", "left").select(
        F.col("id").alias(id_col), proj.alias("proj"))
