"""NN-Descent k-NN graph construction + graph-based ANN beam search.

The k-NN graph is the backbone data structure of scale similarity work —
SemDeDup-style clustering, graph ANN serving, manifold statistics — and
building it brute-force is O(n^2) in the corpus. NN-Descent (Dong,
Moses & Li, WWW 2011) converges to a near-exact graph from a cheap
initialization by iterating one purely LOCAL rule: *a neighbor of my
neighbor is probably my neighbor*. Every step is a self-join + top-k —
exactly the dataflow shape Spark executes well — so the algorithm
distributes with no driver-side state beyond the round loop.

Operators over ``embeddings(vec_id, embedding array<float>)``:

  knn_graph_init      initial directed k-NN graph from the corpus's own
                      sign-LSH buckets (``similarity.lsh_topk`` with the
                      corpus as its own query set) — deterministic,
                      data-derived, oracle-reproducible.
  nn_descent_round    one NN-Descent iteration: symmetrize the graph,
                      local-join neighbors-of-neighbors through each
                      shared node, exact-cosine score, re-select top-k.
  nn_descent          init + fixed rounds, each round materialized
                      (the ``pagerank`` convention for iterative ops).
  graph_ann_search    greedy beam search over a built k-NN graph:
                      shared entry points, fixed expansion rounds, exact
                      cosine on every candidate — ANN queries that never
                      touch a corpus-sized join.

Scale shape (the reason this exists): with fixed k the per-round
local-join candidate count is sum_v |U(v)|^2 ~= n*(2k)^2 — LINEAR in the
corpus, versus the n^2 brute-force graph build; re-selection is a
per-node top-k over ~k+candidates rows (window keyed by node — never a
corpus-wide window). Beam search touches beam*degree rows per query per
round. This module is full-batch NN-Descent (no sampling): the published
algorithm's rho-sampling and "new/old" incremental flags only thin the
SAME local join and can be layered on; correctness is identical.

Determinism (oracle contract): no RNG anywhere. Init hyperplanes are the
smallest-id corpus vectors (``similarity.data_hyperplanes``); cosine is
the same left-fold dot product in both engines; every top-k orders by
(cosine DESC, id ASC) — the existing ANN gates' convention.

Reference parity: crawl4ai's cosine-similarity extraction and adaptive
embedding strategies (``/root/reference/crawl4ai/utils.py`` cosine
helpers, ``adaptive_crawler.py`` embedding coverage) compute per-page
all-pairs similarity in-process; a 10^8-vector corpus needs the k-NN
graph built once and queried cheaply, which is this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _dot, _norm, cosine, data_hyperplanes, lsh_topk  # noqa: F401


def knn_graph_init(
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Initial directed k-NN graph (id, nbr, cosine): every corpus vector
    queries the corpus's own sign-LSH buckets (Hamming<=1 multiprobe for
    connectivity). Recall of this seed graph is whatever the buckets give
    — NN-Descent rounds are what repair it."""
    g = lsh_topk(corpus, corpus, k=k, n_planes=n_planes,
                 id_col=id_col, vec_col=vec_col, multiprobe=True)
    return g.select(
        F.col("query_id").alias("id"),
        F.col("neighbor_id").alias("nbr"),
        "cosine",
    )


def _vectors(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # vnorm once per row: every scoring join divides by it instead of
    # re-folding the norm aggregate per candidate pair (identical
    # arithmetic — dot/(n1*n2) is cosine()'s own evaluation order)
    return corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("vnorm", _norm(F.col("vec")))


def nn_descent_round(
    graph: DataFrame,
    vectors: DataFrame,
    k: int = 5,
) -> DataFrame:
    """One NN-Descent iteration over ``graph(id, nbr)`` with
    ``vectors(vid, vec)``: U = graph symmetrized; candidates = all (v, w)
    adjacent to a shared node in U (the local join) plus the current
    edges; exact cosine on candidates; keep each node's top-k.

    The local join is the whole algorithm: for node u with combined
    in+out neighborhood U(u), every pair (v, w) in U(u) x U(u) becomes a
    candidate edge — if u is close to both, v and w are likely close.
    Monotone by construction (current edges always compete), so rounds
    never worsen the graph."""
    if "vnorm" not in vectors.columns:  # callers passing bare (vid, vec)
        vectors = vectors.withColumn("vnorm", _norm(F.col("vec")))
    # no distinct on the symmetrized view: a duplicated (id, nbr) row (an
    # edge present in both directions) only duplicates candidate pairs the
    # local join already produces, and cand's own distinct dedups them —
    # the early distinct paid a full exchange to shave at most a 2x row
    # blowup of an already-tiny intermediate
    und = graph.select("id", "nbr").union(
        graph.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
    )
    a = und.select(F.col("id").alias("via"), F.col("nbr").alias("id"))
    b = und.select(F.col("id").alias("via"), F.col("nbr").alias("nbr"))
    cand = (
        a.join(b, "via")
        .where(F.col("id") != F.col("nbr"))
        .select("id", "nbr")
        .union(graph.select("id", "nbr"))
        .distinct()
    )
    scored = (
        cand.join(vectors.withColumnRenamed("vid", "id"), "id")
        .join(
            vectors.select(F.col("vid").alias("nbr"),
                           F.col("vec").alias("nvec"),
                           F.col("vnorm").alias("nnorm")),
            "nbr",
        )
        .select("id", "nbr",
                (_dot(F.col("vec"), F.col("nvec"))
                 / (F.col("vnorm") * F.col("nnorm"))).cast("double")
                .alias("cosine"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("nbr"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "nbr", "cosine")
    )


def _fold_dot(a: list, b: list) -> float:
    # same left-fold order as similarity._dot's aggregate -> bit-identical
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _fold_norm(a: list) -> float:
    import math

    s = 0.0
    for x in a:
        s += x * x
    return math.sqrt(s)


def _desc_key(c: float, tie) -> tuple:
    # Spark DESC double ordering treats NaN as largest (first); ties break
    # ascending on the id
    import math

    return (0, 0.0, tie) if math.isnan(c) else (1, -c, tie)


def _local_knn_graph(vecs: dict, k: int, rounds: int, n_planes: int) -> list:
    """Driver twin of knn_graph_init + nn_descent rounds over a collected
    {id: vector} map. Every float op replays the distributed expressions'
    exact evaluation order (left-fold dot/norm, dot/(n1*n2)), and every
    top-k uses (cosine DESC, id ASC), so the result is bit-identical to
    the Spark dataflow — asserted by
    test_nndescent.test_driver_path_matches_distributed."""
    ids = sorted(vecs)
    norms = {i: _fold_norm(vecs[i]) for i in ids}

    def cos(a, b):
        return _fold_dot(vecs[a], vecs[b]) / (norms[a] * norms[b])

    # --- lsh_topk(corpus, corpus, multiprobe=True) seed graph
    planes = [vecs[i] for i in ids[:n_planes]]
    bucket = {}
    for i in ids:
        b, w = 0, 1
        for p in planes:
            if _fold_dot(vecs[i], p) >= 0:
                b += w
            w *= 2
        bucket[i] = b
    by_bucket: dict = {}
    for i in ids:
        by_bucket.setdefault(bucket[i], []).append(i)
    edges: dict = {}
    for q in ids:
        probes = [bucket[q]] + [bucket[q] ^ (1 << j) for j in range(n_planes)]
        cands = [n for p in probes for n in by_bucket.get(p, []) if n != q]
        scored = sorted(((cos(q, n), n) for n in cands),
                        key=lambda x: _desc_key(x[0], x[1]))
        edges[q] = [n for _c, n in scored[:k]]

    # --- nn_descent rounds: symmetrize, local join, exact re-select
    for _ in range(rounds):
        und: set = set()
        for i, nbrs in edges.items():
            for n in nbrs:
                und.add((i, n))
                und.add((n, i))
        adj: dict = {}
        for a, b in und:
            adj.setdefault(a, []).append(b)
        cand: dict = {i: set(nbrs) for i, nbrs in edges.items()}
        for via, nbrs in adj.items():
            for x in nbrs:
                for y in nbrs:
                    if x != y:
                        cand.setdefault(x, set()).add(y)
        edges = {}
        for i, cs in cand.items():
            scored = sorted(((cos(i, n), n) for n in cs),
                            key=lambda x: _desc_key(x[0], x[1]))
            edges[i] = [n for _c, n in scored[:k]]
    out = []
    for i in sorted(edges):
        scored = sorted(((cos(i, n), n) for n in edges[i]),
                        key=lambda x: _desc_key(x[0], x[1]))
        for rank, (c, n) in enumerate(scored, 1):
            out.append((i, n, c, rank))
    return out


def _small_vectors(df: DataFrame, id_col: str, vec_col: str):
    """The collected (id, vector) rows when ``df`` passes the pairwise
    small-input gate, else None."""
    from ..session import PAIRWISE_MAX_ROWS, collect_if_small

    return collect_if_small(df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>")),
        PAIRWISE_MAX_ROWS)


def nn_descent(
    corpus: DataFrame,
    k: int = 5,
    rounds: int = 2,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-NN graph by NN-Descent: LSH-seeded init + ``rounds`` fixed local
    joins. Returns (id, nbr, cosine, rank) — rank 1..k per node.

    ``checkpoint_dir``: when set, each round materializes to parquet (the
    iterative-operator convention — durable, resumable, the right call
    for a long 10^8-vector build); unset, rounds localCheckpoint instead.
    Truncation is NOT optional here: a round references the prior graph
    ~5x (symmetrize 2x + local join 2x + carry), so lazy lineage grows
    5^rounds — measured 14.5 s -> ~3 s at 2 rounds / 200 vectors.

    Corpora that pass the pairwise small-input gate
    (``session.collect_if_small``) run the bit-identical driver twin
    (:func:`_local_knn_graph`) instead of ~10 exchange-heavy Spark jobs
    — the cluster_pairs small-input convention."""
    rows = _small_vectors(corpus, id_col, vec_col)
    if rows is not None:
        from ..session import local_df

        idt = corpus.select(F.col(id_col)).schema[0].dataType.simpleString()
        out = _local_knn_graph({r[0]: list(r[1]) for r in rows},
                               k, rounds, n_planes)
        return local_df(
            corpus.sparkSession, out,
            f"id {idt}, nbr {idt}, cosine double, rank int")
    vectors = _vectors(corpus, id_col, vec_col)
    # keep the seed's cosine so rounds=0 returns the ranked LSH seed
    # graph instead of failing to resolve the column
    g = knn_graph_init(corpus, k, n_planes, id_col, vec_col) \
        .select("id", "nbr", "cosine")
    for r in range(rounds):
        g = nn_descent_round(g, vectors, k).select("id", "nbr", "cosine")
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/nnd_round_{r}"
            g.write.mode("overwrite").parquet(path)
            g = vectors.sparkSession.read.parquet(path)
        else:
            g = g.localCheckpoint(eager=True)
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("nbr"))
    return g.withColumn("rank", F.row_number().over(w)).select(
        "id", "nbr", F.col("cosine").cast("double").alias("cosine"), "rank")


def _local_graph_ann(vecs: dict, graph_rows: list, qvecs: dict,
                     entries: list, k: int, beam: int, rounds: int) -> list:
    """Driver twin of graph_ann_search's synchronized beam loop — same
    float evaluation order (left-fold dot, dot/(qnorm*vnorm)) and the
    same (cosine DESC, node ASC) beam/top-k orderings as the distributed
    dataflow, so results are bit-identical."""
    norms = {i: _fold_norm(v) for i, v in vecs.items()}
    qnorms = {q: _fold_norm(v) for q, v in qvecs.items()}
    adj: dict = {}
    for nid, nbr in graph_rows:
        adj.setdefault(nid, []).append(nbr)

    def cos(q, n):
        return _fold_dot(qvecs[q], vecs[n]) / (qnorms[q] * norms[n])

    state = {q: set(entries) for q in qvecs}
    for _ in range(rounds):
        new_state = {}
        for q, nodes in state.items():
            expanded = set(nodes)
            for node in nodes:
                expanded.update(adj.get(node, ()))
            scored = sorted(((cos(q, n), n) for n in expanded
                             if n != q and n in vecs),
                            key=lambda x: _desc_key(x[0], x[1]))
            new_state[q] = {n for _c, n in scored[:beam]}
        state = new_state
    out = []
    for q in sorted(qvecs):
        scored = sorted(((cos(q, n), n) for n in state.get(q, ())
                         if n in vecs),
                        key=lambda x: _desc_key(x[0], x[1]))
        for rank, (c, n) in enumerate(scored[:k], 1):
            out.append((q, n, c, rank))
    return out


def graph_entry_points(corpus: DataFrame, n_entry: int = 4,
                       id_col: str = "vec_id") -> DataFrame:
    """Shared search entry points: the ``n_entry`` smallest corpus ids
    (the ``data_hyperplanes``/``data_centroids`` determinism convention)."""
    return (corpus.select(F.col(id_col).alias("node"))
            .orderBy(F.asc("node")).limit(n_entry))


def graph_ann_search(
    graph: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    beam: int = 8,
    rounds: int = 2,
    n_entry: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    entry_points: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k over a built k-NN ``graph(id, nbr)``: every query starts
    at the shared entry points; each round expands the current beam's
    graph neighbors, scores them exactly against the query, and keeps the
    ``beam`` best (cosine DESC, node ASC) — greedy best-first search in
    fixed synchronized rounds (NSW-style descent without the sequential
    visit loop; a visited-set would only prune re-scores, not change the
    result, because re-scored nodes re-rank identically). After the last
    expansion the beam's top-k become (query_id, neighbor_id, cosine,
    rank).

    Cost per round: |queries| * beam * avg-degree candidate rows — never
    a corpus-sized join; the corpus participates only through the
    (broadcastable at |Q|*beam scale) beam-node vector lookups.

    Entry coverage matters: a clustered corpus's k-NN graph is near-
    disconnected BETWEEN clusters (every node's top-k stays in-cluster),
    and greedy descent cannot cross a gap the graph doesn't bridge — so
    ``n_entry`` must span the corpus's clusters (measured on the 8-cluster
    test fixture: 4 entries -> recall 0.53, 8 entries covering every
    cluster -> >=0.9). At scale, pass ``entry_points`` — a (node)
    DataFrame, e.g. one member per IVF centroid
    (``similarity.data_centroids`` / ``ivf_assign``) — instead of relying
    on id order; the same repair HNSW's upper layers / NSW's long links
    provide. When given, ``n_entry`` is ignored.

    Small inputs (corpus, queries and any given entry points each pass
    the pairwise small-input gate, and the graph the linear one) run a
    bit-identical driver twin of the synchronized beam loop instead of
    rounds x (union+distinct+2 joins+window+localCheckpoint) Spark jobs —
    the cluster_pairs small-input convention; the distributed path is
    unchanged and exercised by test_driver_path_matches_distributed."""
    from ..session import LINEAR_MAX_ROWS, PAIRWISE_MAX_ROWS, collect_if_small

    # each probe runs only while every earlier one fit: past a bound the
    # rest stay uncollected and the search runs distributed
    crows = _small_vectors(corpus, id_col, vec_col)
    grows = (collect_if_small(graph.select("id", "nbr"), LINEAR_MAX_ROWS)
             if crows is not None else None)
    qrows = (_small_vectors(queries, id_col, vec_col) if grows is not None
             else None)
    erows = ([] if entry_points is None or qrows is None
             else collect_if_small(entry_points.select("node"),
                                   PAIRWISE_MAX_ROWS))
    if qrows is not None and erows is not None:
        from ..session import local_df

        if entry_points is None:
            entries = sorted(r[0] for r in crows)[:n_entry]
        else:
            entries = [r[0] for r in erows]
        vecs = {r[0]: list(r[1]) for r in crows}
        qvecs = {r[0]: list(r[1]) for r in qrows}
        out = _local_graph_ann(vecs, grows, qvecs, entries,
                               k, beam, rounds)
        idt = corpus.select(F.col(id_col)).schema[0].dataType.simpleString()
        return local_df(
            corpus.sparkSession, out,
            f"query_id {idt}, neighbor_id {idt}, cosine double, rank int")
    vectors = _vectors(corpus, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qnorm", _norm(F.col("qv")))
    if entry_points is None:
        entry_points = graph_entry_points(corpus, n_entry, id_col)
    state = q.crossJoin(entry_points.select("node"))
    for _ in range(rounds):
        expanded = state.select("query_id", "node").union(
            state.join(graph.select(F.col("id").alias("node"),
                                    F.col("nbr")), "node")
            .select("query_id", F.col("nbr").alias("node"))
        ).distinct()
        scored = (
            expanded.join(q, "query_id")
            .join(vectors.withColumnRenamed("vid", "node"), "node")
            .where(F.col("query_id") != F.col("node"))
            .select("query_id", "node",
                    (_dot(F.col("qv"), F.col("vec"))
                     / (F.col("qnorm") * F.col("vnorm"))).cast("double")
                    .alias("cosine"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("node"))
        state = (scored.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= beam)
                 .select("query_id", "node")
                 # each round references state twice (carry + expand):
                 # truncate so lineage stays linear in rounds
                 .localCheckpoint(eager=True))
    final = (
        state.join(q, "query_id")
        .join(vectors.withColumnRenamed("vid", "node"), "node")
        .select("query_id", F.col("node").alias("neighbor_id"),
                (_dot(F.col("qv"), F.col("vec"))
                 / (F.col("qnorm") * F.col("vnorm"))).cast("double")
                .alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        final.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.col("cosine").cast("double").alias("cosine"), "rank")
    )
