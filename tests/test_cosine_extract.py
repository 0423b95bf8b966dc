"""CosineStrategy parity tests (reference extraction_strategy.py:135-492):
ward-linkage merge math, semantic pre-filter selection/topup/cap and
end-to-end cluster extraction, with and without a query."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from crawl4ai_custom_spark.operators.cosine_extract import (
    _ward_merge_heights,
    cosine_cluster_extract,
    semantic_prefilter,
    ward_cluster_labels,
)


def test_ward_merge_heights_lance_williams_three_points():
    # hand-computed: first merge (0,1) at d=0.1; then d(2, {0,1}) by the
    # ward recurrence sqrt(((n0+n2)d02^2+(n1+n2)d12^2-n2*d01^2)/(n0+n1+n2))
    d = np.array([[0.0, 0.1, 0.9], [0.1, 0.0, 0.95], [0.9, 0.95, 0.0]])
    merges = _ward_merge_heights(d)
    assert merges[0][:2] == (0, 1) and merges[0][2] == pytest.approx(0.1)
    want = np.sqrt((2 * 0.9**2 + 2 * 0.95**2 - 1 * 0.1**2) / 3)
    assert merges[1][2] == pytest.approx(want)


def test_ward_cluster_labels_cut_and_first_occurrence_numbering():
    # two tight groups on orthogonal axes + interleaved order
    e0 = [1.0, 0.0]
    e1 = [0.0, 1.0]
    X = np.array([e0, e1, e0, e1, e0])
    labels = ward_cluster_labels(X, max_dist=0.2)
    # first-occurrence numbering: chunk0's group is 1, chunk1's is 2
    assert labels.tolist() == [1, 2, 1, 2, 1]
    # cut below every merge -> all singletons
    labs2 = ward_cluster_labels(np.eye(3), max_dist=0.01)
    assert sorted(labs2.tolist()) == [1, 2, 3]
    # degenerate sizes
    assert ward_cluster_labels(np.array([[1.0, 0.0]]), 0.2).tolist() == [1]


def test_ward_chain_splits_where_single_linkage_merges():
    # a chain of slightly-rotated vectors: adjacent cosine distance ~0.06
    # (< cut) but ends nearly orthogonal. Single linkage at 0.1 would merge
    # the whole chain; ward's variance penalty must split it.
    thetas = np.linspace(0, np.pi / 2, 8)
    X = np.stack([np.cos(thetas), np.sin(thetas)], axis=1)
    labels = ward_cluster_labels(X, max_dist=0.1)
    assert len(set(labels.tolist())) > 1


@pytest.fixture()
def chunk_df(spark):
    # doc 1: 6 chunks, sims vs query [1,0]: chunk%3==0 -> 1.0 else 0.0
    rows = []
    for d in (1, 2):
        n = 6 if d == 1 else 7
        for c in range(n):
            g = c % 3
            emb = [1.0 if g == 0 else 0.0, 1.0 if g == 1 else 0.0,
                   1.0 if g == 2 else 0.0, 0.0]
            rows.append((d, c, f"w{d} c{c} t{g}", emb))
    return spark.createDataFrame(
        rows, "id int, chunk_index int, chunk string, embedding array<double>"
    )


def test_semantic_prefilter_threshold_topup_cap(spark, chunk_df):
    # n=6 -> k=3: passed c0,c3 (order kept), topup 1 reject by sim desc
    # stable on chunk order -> c1. n=7 -> k=3: passed c0,c3,c6 fill k, no topup.
    out = semantic_prefilter(
        chunk_df, [1.0, 0.0, 0.0, 0.0], sim_threshold=0.3, at_least_k=20
    ).orderBy("id", "sel_pos").collect()
    got = [(r["id"], r["chunk_index"], r["sel_pos"]) for r in out]
    assert got == [
        (1, 0, 1), (1, 3, 2), (1, 1, 3),
        (2, 0, 1), (2, 3, 2), (2, 6, 3),
    ]


def test_semantic_prefilter_none_query_passthrough(spark, chunk_df):
    out = semantic_prefilter(chunk_df, None).where(F.col("id") == 1)
    assert out.count() == 6


def test_cosine_cluster_extract_end_to_end(spark, chunk_df):
    out = cosine_cluster_extract(
        chunk_df, query_vec=[1.0, 0.0, 0.0, 0.0],
        sim_threshold=0.3, max_dist=0.2, word_count_threshold=3,
    ).orderBy("id", "cluster_index").collect()
    got = [(r["id"], r["cluster_index"], r["content"], r["n_chunks"],
            r["n_words"]) for r in out]
    assert got == [
        (1, 1, "w1 c0 t0 w1 c3 t0", 2, 6),
        (1, 2, "w1 c1 t1", 1, 3),
        (2, 1, "w2 c0 t0 w2 c3 t0 w2 c6 t0", 3, 9),
    ]
    # word threshold drops the singleton
    out2 = cosine_cluster_extract(
        chunk_df, query_vec=[1.0, 0.0, 0.0, 0.0],
        sim_threshold=0.3, max_dist=0.2, word_count_threshold=4,
    ).where(F.col("id") == 1).collect()
    assert [r["cluster_index"] for r in out2] == [1]


def test_cosine_cluster_extract_without_query_clusters_every_chunk(
        spark, chunk_df):
    # no query: every chunk passes in chunk order, identical embeddings
    # merge, clusters are numbered by first occurrence
    kw = dict(query_vec=None, max_dist=0.2, word_count_threshold=6)
    out = cosine_cluster_extract(chunk_df, **kw).orderBy(
        "id", "cluster_index").collect()
    got = [(r["id"], r["cluster_index"], r["content"], r["n_chunks"])
           for r in out]
    assert got == [
        (1, 1, "w1 c0 t0 w1 c3 t0", 2),
        (1, 2, "w1 c1 t1 w1 c4 t1", 2),
        (1, 3, "w1 c2 t2 w1 c5 t2", 2),
        (2, 1, "w2 c0 t0 w2 c3 t0 w2 c6 t0", 3),
        (2, 2, "w2 c1 t1 w2 c4 t1", 2),
        (2, 3, "w2 c2 t2 w2 c5 t2", 2),
    ]
    kw["word_count_threshold"] = 7
    assert [(r["id"], r["cluster_index"]) for r in
            cosine_cluster_extract(chunk_df, **kw).collect()] == [(2, 1)]
