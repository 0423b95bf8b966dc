"""Shared fixtures: one SparkSession per test run; a small generated site."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from crawl4ai_custom_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(fn)`` -> the number of Spark jobs ``fn()`` starts on
    the calling thread (counted under a fresh job group, after the listener
    bus has delivered every event)."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        gid = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(gid, "job probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(gid))

    return count


@pytest.fixture()
def force_distributed(monkeypatch):
    """``with force_distributed(): ...`` runs the block with
    ``session.collect_if_small`` reporting every input as too large, so
    each operator with a driver twin takes its distributed path;
    ``force_distributed(max_rows=n)`` lowers every gate's bound to ``n``
    instead. Operators look the helper up when called, so a DataFrame
    built inside the block keeps its path when collected after it."""
    import contextlib

    from crawl4ai_custom_spark import session

    shipped = session.collect_if_small

    @contextlib.contextmanager
    def forced(max_rows: int | None = None):
        with monkeypatch.context() as m:
            m.setattr(session, "collect_if_small",
                      (lambda df, bound: None) if max_rows is None
                      else (lambda df, bound: shipped(df, min(bound,
                                                              max_rows))))
            yield

    return forced


@pytest.fixture(scope="session")
def site_dir(tmp_path_factory):
    """Small deterministic crawl site (pages/seeds/robots parquet)."""
    from crawl4ai_custom_spark.sources.datagen import write_dataset

    d = str(tmp_path_factory.mktemp("site"))
    write_dataset(d, n_pages=120, n_domains=4)
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
