"""CosineStrategy re-expressed for Spark: semantic pre-filter + per-document
agglomerative clustering over precomputed chunk embeddings.

Reference semantics (/root/reference/crawl4ai/extraction_strategy.py:135-492):

1. ``filter_documents_embeddings``: keep chunks whose cosine similarity to
   the ``semantic_filter`` query is >= ``sim_threshold`` (original order);
   if fewer than ``at_least_k`` survive (k halves when the doc has fewer
   than k chunks), top up with the best-scoring rejects (similarity
   descending, stable); cap the final list at k.
2. ``hierarchical_clustering``: ward-linkage agglomeration over pairwise
   cosine distances, flat-cut at ``max_dist``.
3. Group chunks by cluster label retaining list order; drop clusters whose
   joined text has fewer than ``word_count_threshold`` words; emit
   ``{"index", "content"}`` per surviving cluster (tags belong to the
   external classifier seam, out of scope per SURVEY §2.7).

Spark shape: the embedding model is an external seam — chunks arrive with an
``embedding`` column (the ``embeddings`` table in tests). The pre-filter is
pure dataflow (broadcast query vector + two windows, no Python). Clustering
is per-document ``applyInPandas``: documents are the distribution unit (the
reference clusters one page at a time; a corpus of N pages fans out N
independent small-n problems), and within a document the agglomeration is a
pure-numpy Lance-Williams recurrence (scipy is absent in this container).
Cluster indexes are renumbered by first-chunk position (scipy's fcluster
leader numbering is an implementation detail; first-occurrence order is the
deterministic contract here).

Scale notes: per-document n is page-chunk-sized (tens to hundreds) — the
O(n^2) distance matrix is local and tiny while the corpus dimension
distributes. For a pathological single document with 10^5+ chunks, compose
the dataflow path instead: cosine-threshold self-join pairs ->
``dedup.cluster_pairs`` (single-linkage connected components) — same
pre-filter, scale-out clustering.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .similarity import cosine


def semantic_prefilter(
    chunks: DataFrame,
    query_vec: list[float] | None,
    sim_threshold: float = 0.3,
    at_least_k: int = 20,
    id_col: str = "id",
    index_col: str = "chunk_index",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference ``filter_documents_embeddings`` as pure dataflow.

    Adds ``sim`` and ``sel_pos`` (the chunk's position in the reference's
    filtered list: passed chunks first in original order, then top-ups by
    similarity descending) and keeps only selected rows. ``query_vec`` None
    -> pass-through with ``sel_pos`` = original order (the reference returns
    ``documents`` unchanged)."""
    w_doc = Window.partitionBy(id_col)
    if query_vec is None:
        return chunks.withColumn("sim", F.lit(None).cast("double")).withColumn(
            "sel_pos",
            F.row_number().over(w_doc.orderBy(F.col(index_col))),
        )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sims = chunks.withColumn("sim", cosine(F.col(vec_col), q))
    n = F.count(F.lit(1)).over(w_doc)
    k = F.when(n < at_least_k, (n / 2).cast("int")).otherwise(F.lit(at_least_k))
    passed = F.col("sim") >= sim_threshold
    n_passed = F.sum(passed.cast("int")).over(w_doc)
    # position among passed rows (original order) / among rejects (similarity
    # desc, stable by original order — python sort stability in the reference)
    pos_passed = F.row_number().over(
        w_doc.partitionBy(id_col, passed).orderBy(F.col(index_col))
    )
    pos_reject = F.row_number().over(
        w_doc.partitionBy(id_col, passed).orderBy(
            F.col("sim").desc(), F.col(index_col)
        )
    )
    sel = sims.withColumn("_k", k).withColumn("_np", n_passed).withColumn(
        "_pp", F.when(passed, pos_passed)
    ).withColumn("_pr", F.when(~passed, pos_reject))
    keep = (
        (F.col("_pp").isNotNull() & (F.col("_pp") <= F.col("_k")))
        | (
            F.col("_pr").isNotNull()
            & (F.col("_np") < F.col("_k"))
            & (F.col("_pr") <= F.col("_k") - F.least("_np", "_k"))
        )
    )
    return (
        sel.where(keep)
        .withColumn(
            "sel_pos",
            F.coalesce(
                "_pp", F.col("_pr") + F.least("_np", "_k")
            ).cast("int"),
        )
        .drop("_k", "_np", "_pp", "_pr")
    )


def _ward_merge_heights(dist: np.ndarray) -> list[tuple[int, int, float]]:
    """Agglomerate with the Lance-Williams ward recurrence; returns the merge
    list [(i, j, height)] over live cluster slots (reference
    ``hierarchical_clustering``'s linkage, re-derived — no scipy here).
    Ties break on the lexicographically smallest (i, j) for determinism."""
    n = dist.shape[0]
    d = dist.astype(np.float64).copy()
    np.fill_diagonal(d, np.inf)
    size = np.ones(n)
    alive = np.ones(n, dtype=bool)
    merges: list[tuple[int, int, float]] = []
    for _ in range(n - 1):
        masked = np.where(np.outer(alive, alive), d, np.inf)
        np.fill_diagonal(masked, np.inf)
        flat = int(np.argmin(masked))
        i, j = sorted(divmod(flat, n))
        h = masked[i, j]
        merges.append((i, j, float(h)))
        # Lance-Williams ward update: cluster j absorbs into slot i
        ni, nj = size[i], size[j]
        for k in range(n):
            if not alive[k] or k == i or k == j:
                continue
            nk = size[k]
            tot = ni + nj + nk
            dk = np.sqrt(
                ((ni + nk) * d[i, k] ** 2 + (nj + nk) * d[j, k] ** 2
                 - nk * h ** 2) / tot
            )
            d[i, k] = d[k, i] = dk
        size[i] = ni + nj
        alive[j] = False
    return merges


def ward_cluster_labels(vectors: np.ndarray, max_dist: float) -> np.ndarray:
    """Flat clusters: cut the ward dendrogram at ``max_dist`` (reference
    ``fcluster(criterion='distance')``). Labels are renumbered by first
    occurrence in input order."""
    n = len(vectors)
    if n == 0:
        return np.array([], dtype=int)
    if n == 1:
        return np.array([1], dtype=int)
    v = vectors.astype(np.float64)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    u = v / norms
    dist = 1.0 - u @ u.T
    np.clip(dist, 0.0, 2.0, out=dist)
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j, h in _ward_merge_heights(dist):
        if h <= max_dist:
            parent[find(j)] = find(i)
    roots: dict[int, int] = {}
    labels = np.empty(n, dtype=int)
    for idx in range(n):
        r = find(idx)
        if r not in roots:
            roots[r] = len(roots) + 1
        labels[idx] = roots[r]
    return labels


CLUSTER_SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("cluster_index", IntegerType()),
        StructField("content", StringType()),
        StructField("n_chunks", IntegerType()),
        StructField("n_words", IntegerType()),
    ]
)


def cosine_cluster_extract(
    chunks: DataFrame,
    query_vec: list[float] | None = None,
    sim_threshold: float = 0.3,
    max_dist: float = 0.2,
    word_count_threshold: int = 10,
    at_least_k: int = 20,
    id_col: str = "id",
    index_col: str = "chunk_index",
    text_col: str = "chunk",
    vec_col: str = "embedding",
) -> DataFrame:
    """CosineStrategy end-to-end: (id, chunk_index, chunk, embedding) ->
    (id, cluster_index, content, n_chunks, n_words), one row per surviving
    cluster per document."""
    pre = semantic_prefilter(
        chunks, query_vec, sim_threshold, at_least_k, id_col, index_col, vec_col
    ).select(
        F.col(id_col).cast("int").alias("id"),
        F.col("sel_pos"),
        F.col(text_col).alias("chunk"),
        F.col(vec_col).alias("embedding"),
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("sel_pos")
        vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        labels = ward_cluster_labels(vecs, max_dist)
        out = []
        order: dict[int, int] = {}
        grouped: dict[int, list[str]] = {}
        for lab, txt in zip(labels, pdf["chunk"]):
            if lab not in order:
                order[lab] = len(order) + 1
            grouped.setdefault(lab, []).append(txt)
        for lab, texts in grouped.items():
            content = " ".join(texts)
            nw = len(content.split())
            if nw >= word_count_threshold:
                out.append(
                    {
                        "id": int(pdf["id"].iloc[0]),
                        "cluster_index": order[lab],
                        "content": content,
                        "n_chunks": len(texts),
                        "n_words": nw,
                    }
                )
        return pd.DataFrame(
            out, columns=["id", "cluster_index", "content", "n_chunks", "n_words"]
        )

    return pre.groupBy("id").applyInPandas(fn, CLUSTER_SCHEMA)
