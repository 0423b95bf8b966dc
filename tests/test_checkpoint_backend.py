"""Snapshot-backend contract tests (state/backend.py invariants I1-I3) —
parameterized over backends so a real Iceberg backend slots into the same
suite; here the parquet stand-in runs and the Iceberg SQL plan is pinned."""

import json
import os

import pytest

from crawl4ai_custom_spark.state.backend import (
    IcebergBackend,
    ParquetManifestBackend,
)
from crawl4ai_custom_spark.state.checkpoint import CheckpointStore


@pytest.fixture()
def tables(spark):
    return {
        "frontier": spark.createDataFrame(
            [("http://a.com/", 0)], "url_canon string, wave int"
        ),
        "host_state": spark.createDataFrame([("a.com", 1)], "d string, n int"),
        "bloom": None,  # None tables are skipped
        "stats": spark.createDataFrame([(0, 2)], "wave int, fetched int"),
    }


def _parquet_backend(spark, tmp_path):
    return ParquetManifestBackend(spark, str(tmp_path / "snap"))


@pytest.mark.parametrize("make_backend", [_parquet_backend])
def test_snapshot_invisible_until_commit_marker(spark, tmp_path, tables,
                                                make_backend):
    b = make_backend(spark, tmp_path)
    assert b.complete_waves() == []
    b.write_snapshot(0, tables, meta={"pages_crawled": 2})
    assert b.complete_waves() == [0]
    # I2: a torn wave-1 write (no commit marker) leaves wave 0 authoritative
    d1 = b.wave_dir(1)
    os.makedirs(d1)
    tables["frontier"].write.mode("overwrite").parquet(
        os.path.join(d1, "frontier.parquet")
    )
    assert b.complete_waves() == [0]


@pytest.mark.parametrize("make_backend", [_parquet_backend])
def test_snapshot_roundtrip(spark, tmp_path, tables, make_backend):
    b = make_backend(spark, tmp_path)
    b.write_snapshot(3, tables, meta={"seen_deltas": ["x"]})
    got = b.read_snapshot(3)
    assert sorted(k for k in got if k != "_meta") == [
        "frontier", "host_state", "stats"
    ]
    assert got["_meta"]["seen_deltas"] == ["x"]
    assert got["frontier"].collect()[0]["url_canon"] == "http://a.com/"
    # table_path points at real parquet (frontier footer-count shortcut)
    assert os.path.exists(b.table_path(3, "frontier"))


def test_snapshot_read_starts_no_spark_job(spark, tmp_path, tables,
                                           jobs_started):
    """Each table's schema rides in the manifest, so reading a snapshot
    plans scans without a schema-inference job, and the schemas it reads
    with are the ones inference would find."""
    b = _parquet_backend(spark, tmp_path)
    b.write_snapshot(0, tables)
    got = {}
    assert jobs_started(lambda: got.update(b.read_snapshot(0))) == 0
    for name in ("frontier", "host_state", "stats"):
        inferred = spark.read.parquet(b.table_path(0, name))
        assert got[name].schema == inferred.schema
        assert got[name].collect() == inferred.collect()


def test_manifest_without_schemas_still_reads(spark, tmp_path, tables):
    """Checkpoints written before manifests carried schemas resume: the
    tables read back by inference."""
    b = _parquet_backend(spark, tmp_path)
    b.write_snapshot(0, tables, meta={"m": 1})
    path = os.path.join(b.wave_dir(0), "_MANIFEST.json")
    with open(path) as f:
        man = json.load(f)
    del man["schemas"]
    with open(path, "w") as f:
        json.dump(man, f)
    got = b.read_snapshot(0)
    assert got["_meta"] == {"m": 1}
    assert got["frontier"].collect()[0]["url_canon"] == "http://a.com/"
    assert got["stats"].collect()[0]["fetched"] == 2


def test_checkpoint_store_delegates_and_keeps_layout(spark, tmp_path, tables):
    store = CheckpointStore(spark, str(tmp_path / "c"))
    store.write(0, tables, meta={"m": 1})
    assert store.latest_wave() == 0
    assert os.path.exists(
        os.path.join(store._wave_dir(0), "_MANIFEST.json")
    )
    with open(os.path.join(store._wave_dir(0), "_MANIFEST.json")) as f:
        man = json.load(f)
    assert man["tables"] == ["frontier", "host_state", "stats"]
    assert store.read(0)["_meta"] == {"m": 1}


def test_iceberg_backend_plans_merge_and_tag(spark):
    b = IcebergBackend(
        spark, "warehouse.crawl",
        key_cols={"frontier": "url_hash", "host_state": "registrable_domain"},
    )
    stmts = b.plan_commit_sql(7, ["frontier", "host_state"])
    assert stmts[0] == (
        "MERGE INTO warehouse.crawl.crawl_frontier t USING __stage_frontier s "
        "ON t.wave = s.wave AND t.url_hash = s.url_hash "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert stmts[-1] == (
        "ALTER TABLE warehouse.crawl.crawl_meta CREATE TAG `wave_7`"
    )
    # no Iceberg catalog in this sandbox: execution must refuse loudly
    with pytest.raises(NotImplementedError):
        b.write_snapshot(7, {"frontier": None})
    assert b.table_path(7, "frontier") is None


def test_snapshot_tables_written_under_callers_description(spark, tmp_path,
                                                           tables):
    # the engine commits snapshots from its own thread with a description
    # set; write_snapshot's pool threads must carry it into every table's
    # write job instead of starting unlabelled jobs
    import threading
    import uuid

    sc = spark.sparkContext
    group = f"snap-{uuid.uuid4().hex}"
    desc = "wave 0: snapshot commit (probe)"

    def commit():
        sc.setJobGroup(group, desc)
        _parquet_backend(spark, tmp_path).write_snapshot(0, tables)

    t = threading.Thread(target=commit)
    t.start()
    t.join()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    written = [n for n, df in tables.items() if df is not None]
    assert len(job_ids) >= len(written)
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in job_ids} == {desc}
