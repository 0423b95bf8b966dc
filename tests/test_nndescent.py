"""NN-Descent k-NN graph + graph ANN beam search: convergence toward the
brute-force graph, round monotonicity, determinism, and search recall on
clustered geometry. Everything is seed-free (md5-derived fixtures, data-
derived hyperplanes), so every assertion is exact-rerunnable."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))


@pytest.fixture(scope="module")
def clustered(spark):
    from ann_recall import clustered_vectors

    emb = clustered_vectors(spark, n=400, dim=32, n_clusters=8).persist()
    emb.count()
    yield emb
    emb.unpersist()


def _brute_graph(spark, emb, k):
    from crawl4ai_custom_spark.operators.similarity import brute_force_topk

    return brute_force_topk(emb, emb, k=k).select(
        F.col("query_id").alias("id"), F.col("neighbor_id").alias("nbr"))


def _graph_recall(graph, brute) -> float:
    hits = graph.select("id", "nbr").intersect(brute).count()
    return hits / brute.count()


def test_nn_descent_rounds_repair_the_lsh_seed(spark, clustered):
    """Recall vs the brute-force k-NN graph improves monotonically from
    the LSH seed and reaches ~1.0 on clustered data within 2 rounds."""
    from crawl4ai_custom_spark.operators.nndescent import (
        knn_graph_init, nn_descent, nn_descent_round)

    k = 5
    brute = _brute_graph(spark, clustered, k).persist()
    seed = knn_graph_init(clustered, k=k, n_planes=4)
    r_seed = _graph_recall(seed, brute)

    vectors = clustered.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"))
    g1 = nn_descent_round(seed.select("id", "nbr"), vectors, k=k).persist()
    r1 = _graph_recall(g1, brute)
    g2 = nn_descent_round(g1.select("id", "nbr"), vectors, k=k).persist()
    r2 = _graph_recall(g2, brute)
    g3 = nn_descent_round(g2.select("id", "nbr"), vectors, k=k)
    r3 = _graph_recall(g3, brute)

    assert r_seed < 1.0          # the seed alone must not already be exact
    assert r_seed <= r1 <= r2 <= r3    # monotone repair
    # measured trajectory on this fixture: 0.733 -> 0.882 -> 0.942 -> r3;
    # floors sit under the measured values (exact-rerunnable, no noise)
    assert r2 >= 0.9 and r3 >= 0.96, (r_seed, r1, r2, r3)

    # the packaged loop == manual rounds
    full = nn_descent(clustered, k=k, rounds=3, n_planes=4)
    assert _graph_recall(full, brute) == r3
    g1.unpersist(); g2.unpersist(); brute.unpersist()


def test_nn_descent_deterministic_and_k_rows_per_node(spark, clustered):
    from crawl4ai_custom_spark.operators.nndescent import nn_descent

    out1 = nn_descent(clustered, k=4, rounds=1, n_planes=4)
    out2 = nn_descent(clustered, k=4, rounds=1, n_planes=4)
    rows1 = sorted(map(tuple, out1.collect()))
    rows2 = sorted(map(tuple, out2.collect()))
    assert rows1 == rows2
    per = out1.groupBy("id").count().agg(
        F.min("count"), F.max("count")).first()
    assert per[0] == 4 and per[1] == 4
    # ranks are 1..k, no self-edges
    assert out1.where(F.col("id") == F.col("nbr")).count() == 0
    assert out1.agg(F.max("rank")).first()[0] == 4

    # plan shape: the local join is equi-join only — the corpus never
    # rides a Cartesian/nested-loop product (that would be the O(n^2)
    # this operator exists to avoid)
    from crawl4ai_custom_spark.operators.nndescent import nn_descent_round

    vectors = clustered.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"))
    plan = nn_descent_round(out1.select("id", "nbr"), vectors, k=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_ann_search_recall_on_built_graph(spark, clustered):
    """Beam search over the NN-Descent graph recovers >=0.9 of the exact
    top-k for held-out queries, touching only beam*degree candidates."""
    from crawl4ai_custom_spark.operators.nndescent import (
        graph_ann_search, nn_descent)
    from crawl4ai_custom_spark.operators.similarity import brute_force_topk

    graph = nn_descent(clustered, k=8, rounds=2, n_planes=4).persist()
    graph.count()
    queries = clustered.where(F.col("vec_id") % 25 == 3)
    exact = brute_force_topk(clustered, queries, k=5)
    # a clustered corpus's k-NN graph is near-disconnected BETWEEN
    # clusters, so the entry set must span them (measured: n_entry=4
    # reaches half the clusters -> recall 0.53); ids are round-robin
    # across the 8 fixture clusters, so the 8 smallest ids cover all
    approx = graph_ann_search(
        graph, clustered, queries, k=5, beam=12, rounds=3, n_entry=8)
    hits = approx.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")).count()
    recall = hits / exact.count()
    assert recall >= 0.9, recall
    # per-query row contract
    per = approx.groupBy("query_id").count().agg(F.max("count")).first()[0]
    assert per == 5
    graph.unpersist()


def test_graph_ann_search_is_deterministic(spark, clustered):
    from crawl4ai_custom_spark.operators.nndescent import (
        graph_ann_search, nn_descent)

    graph = nn_descent(clustered, k=6, rounds=1, n_planes=4).persist()
    graph.count()
    queries = clustered.where(F.col("vec_id") < 8)
    a = sorted(map(tuple, graph_ann_search(
        graph, clustered, queries, k=3, beam=6, rounds=2).collect()))
    b = sorted(map(tuple, graph_ann_search(
        graph, clustered, queries, k=3, beam=6, rounds=2).collect()))
    assert a == b and len(a) == 8 * 3
    graph.unpersist()


def test_feature_hash_projection_preserves_geometry(spark, clustered):
    """Count-sketch projection: dense d_out output with exact-zero absent
    buckets, deterministic under a seed, different under another seed;
    JL statistics hold (norms preserved in expectation, pairwise cosine
    error bounded on average)."""
    from crawl4ai_custom_spark.operators.similarity import (
        cosine, feature_hash_projection)

    d_out = 32
    pr = feature_hash_projection(clustered, d_out=d_out).persist()
    sizes = pr.select(F.size("proj").alias("s")).distinct().collect()
    assert [r["s"] for r in sizes] == [d_out]

    again = feature_hash_projection(clustered, d_out=d_out)
    assert sorted(map(tuple, pr.collect())) == sorted(
        map(tuple, again.collect()))
    other = feature_hash_projection(clustered, d_out=d_out, seed=2)
    assert sorted(map(tuple, pr.collect())) != sorted(
        map(tuple, other.collect()))

    # norms: E[||Px||^2] = ||x||^2 (fixture vectors are unit)
    norms = pr.select(
        F.aggregate("proj", F.lit(0.0), lambda s, x: s + x * x).alias("n2")
    ).agg(F.avg("n2"), F.stddev("n2")).first()
    assert abs(norms[0] - 1.0) < 0.1, norms

    # pairwise cosine error on a deterministic pair sample
    a = clustered.alias("a"); b = clustered.alias("b")
    pairs = (a.join(b, F.col("a.vec_id") + 7 == F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("ia"),
                     F.col("b.vec_id").alias("ib"),
                     cosine(F.col("a.embedding").cast("array<double>"),
                            F.col("b.embedding").cast("array<double>"))
                     .alias("cos_orig")))
    pa = pr.selectExpr("vec_id as ia", "proj as va")
    pb = pr.selectExpr("vec_id as ib", "proj as vb")
    err = (pairs.join(pa, "ia").join(pb, "ib")
           .select(F.abs(
               cosine(F.col("va"), F.col("vb")) - F.col("cos_orig"))
               .alias("e"))
           .agg(F.avg("e")).first()[0])
    # variance ~ 1/d_out per pair -> mean |error| well under 0.2 at d=32
    assert err < 0.2, err
    pr.unpersist()


def test_graph_ann_search_honors_explicit_entry_points(spark, clustered):
    """entry_points= overrides the smallest-id default: entries confined
    to 2 of the 8 clusters cut recall roughly in... well, to the reachable
    clusters; one-per-cluster entries restore it (the IVF-centroid seeding
    path the docstring prescribes at scale)."""
    from crawl4ai_custom_spark.operators.nndescent import (
        graph_ann_search, nn_descent)
    from crawl4ai_custom_spark.operators.similarity import brute_force_topk

    graph = nn_descent(clustered, k=8, rounds=2, n_planes=4).persist()
    graph.count()
    queries = clustered.where(F.col("vec_id") % 25 == 3)
    exact = brute_force_topk(clustered, queries, k=5).persist()

    def recall(entries):
        ap = graph_ann_search(graph, clustered, queries, k=5, beam=12,
                              rounds=3, entry_points=entries)
        return ap.select("query_id", "neighbor_id").intersect(
            exact.select("query_id", "neighbor_id")).count() / exact.count()

    # fixture clusters are vec_id % 8: ids {0, 1} reach only 2 clusters
    narrow = spark.createDataFrame([(0,), (1,)], ["node"])
    spread = spark.createDataFrame([(i,) for i in range(8)], ["node"])
    r_narrow, r_spread = recall(narrow), recall(spread)
    assert r_spread >= 0.9, r_spread
    assert r_narrow < r_spread - 0.3, (r_narrow, r_spread)
    exact.unpersist(); graph.unpersist()


def test_driver_path_matches_distributed(spark, clustered, monkeypatch,
                                         force_distributed):
    """The size-gated driver twins (_local_knn_graph / _local_graph_ann)
    must be BIT-identical to the distributed dataflow: same left-fold
    float order, same (cosine DESC, id ASC) orderings. Compares full row
    sets including the unrounded cosine doubles."""
    from crawl4ai_custom_spark.operators import nndescent
    from crawl4ai_custom_spark.operators.nndescent import (
        graph_ann_search, nn_descent)
    from crawl4ai_custom_spark.session import PAIRWISE_MAX_ROWS

    # the driver twin really builds `fast`
    twin_calls = []
    local_knn_graph = nndescent._local_knn_graph

    def counting_twin(*args, **kwargs):
        twin_calls.append(1)
        return local_knn_graph(*args, **kwargs)

    monkeypatch.setattr(nndescent, "_local_knn_graph", counting_twin)
    fast = nn_descent(clustered, k=4, rounds=2, n_planes=4)
    assert twin_calls == [1]
    with force_distributed():
        slow = nn_descent(clustered, k=4, rounds=2, n_planes=4)
    assert twin_calls == [1]
    assert sorted(map(tuple, fast.collect())) == \
        sorted(map(tuple, slow.collect()))

    queries = clustered.where(F.col("vec_id") < 6)
    g_fast = graph_ann_search(fast, clustered, queries, k=4, beam=8,
                              rounds=2, n_entry=6)
    with force_distributed():
        g_slow = graph_ann_search(slow, clustered, queries, k=4, beam=8,
                                  rounds=2, n_entry=6)
    assert sorted(map(tuple, g_fast.collect())) == \
        sorted(map(tuple, g_slow.collect()))

    # queries past the gate are never collected and run distributed
    many = clustered.unionByName(
        clustered.withColumn("vec_id", F.col("vec_id") + 100_000))
    assert many.count() > PAIRWISE_MAX_ROWS
    with force_distributed():
        want = graph_ann_search(slow, clustered, many, k=4, beam=8,
                                rounds=2, n_entry=6)

    def no_driver_twin(*args, **kwargs):
        raise AssertionError("driver twin ran")

    monkeypatch.setattr(nndescent, "_local_graph_ann", no_driver_twin)
    got = graph_ann_search(fast, clustered, many, k=4, beam=8, rounds=2,
                           n_entry=6)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_graph_ann_entry_points_past_bound_run_distributed(
        spark, clustered, monkeypatch, force_distributed):
    """A corpus and queries under the driver bound but an entry-point
    table past it (rows of the 8 one-per-cluster ids): the entry points
    are never collected whole and the search runs the distributed beam
    loop."""
    from crawl4ai_custom_spark.operators import nndescent
    from crawl4ai_custom_spark.operators.nndescent import (
        graph_ann_search, nn_descent)
    from crawl4ai_custom_spark.session import PAIRWISE_MAX_ROWS

    graph = nn_descent(clustered, k=4, rounds=2, n_planes=4)
    queries = clustered.where(F.col("vec_id") < 6)
    entries = spark.createDataFrame(
        [(i % 8,) for i in range(PAIRWISE_MAX_ROWS + 8)], ["node"])
    with force_distributed():
        want = graph_ann_search(graph, clustered, queries, k=4, beam=8,
                                rounds=2, entry_points=entries)

    def no_driver_twin(*args, **kwargs):
        raise AssertionError("driver twin ran")

    monkeypatch.setattr(nndescent, "_local_graph_ann", no_driver_twin)
    got = graph_ann_search(graph, clustered, queries, k=4, beam=8, rounds=2,
                           entry_points=entries)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
