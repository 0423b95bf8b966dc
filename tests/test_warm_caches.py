"""The per-session caches a steady crawl relies on stay warm: Spark's
generated-code cache holds a whole crawl, pyspark's per-task import-cache
invalidation re-reads only zip archives that changed, and every
spark-submit job builds its session with the engine's settings."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOBS = os.path.join(ROOT, "jobs")


def _compiled_classes(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_identical_crawl_compiles_nothing(spark, site_dir, tmp_path):
    from crawl4ai_custom_spark.operators.frontier import (
        CrawlConfig,
        FrontierEngine,
    )
    from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

    pages = spark.read.parquet(f"{site_dir}/pages.parquet")
    robots = spark.read.parquet(f"{site_dir}/robots.parquet")
    seeds = [r["url"] for r in
             spark.read.parquet(f"{site_dir}/seeds.parquet").collect()]
    cfg = CrawlConfig(strategy="bfs", max_depth=1, max_pages=200,
                      politeness=PolitenessConfig(wave_seconds=1e9),
                      use_bloom=True, bloom_partitions=4, bloom_min_seen=0)
    compiled = []
    for tag in ("first", "second"):
        before = _compiled_classes(spark)
        run = FrontierEngine(spark, pages, robots, cfg,
                             checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
                             out_dir=str(tmp_path / f"out_{tag}")).run(seeds)
        compiled.append(_compiled_classes(spark) - before)
        assert run.pages_crawled > 0
    assert compiled[1] == 0, compiled


_ZIP_PROBE = r"""
import importlib, json, os, sys, zipfile, zipimport

root, tmp, fake_version = sys.argv[1], sys.argv[2], sys.argv[3] == "1"
archive = os.path.join(tmp, "mods.zip")


def write(names):
    with zipfile.ZipFile(archive, "w") as z:
        for n in names:
            z.writestr(n + ".py", "NAME = %r\n" % n)


write(["zmod_a"])
sys.path.insert(0, archive)
import zmod_a  # noqa: F401  (puts a zipimporter in sys.path_importer_cache)

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda a: (reads.append(a), read_directory(a))[1]
shipped = zipimport.zipimporter.invalidate_caches
if fake_version:
    sys.version_info = (3, 13, 0, "final", 0)
sys.path.insert(0, root)
import crawl4ai_custom_spark  # noqa: E402,F401

importlib.invalidate_caches()  # the first one reads each archive once
del reads[:]
for _ in range(5):
    importlib.invalidate_caches()
unchanged = reads.count(archive)
write(["zmod_a", "zmod_rewritten"])
importlib.invalidate_caches()
import zmod_rewritten  # noqa: E402,F401
print(json.dumps({
    "patched": zipimport.zipimporter.invalidate_caches is not shipped,
    "unchanged_reads": unchanged,
    "rewritten_reads": reads.count(archive) - unchanged,
}))
"""


def _zip_probe(tmp_path, fake_version: bool) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, ROOT, str(tmp_path),
         "1" if fake_version else "0"],
        capture_output=True, text=True, timeout=120, check=True,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_zip_not_reread_on_invalidate(tmp_path):
    got = _zip_probe(tmp_path, fake_version=False)
    # from CPython 3.13 the interpreter's own re-read is lazy: no patch
    assert got["patched"] is (sys.version_info < (3, 13))
    assert got["unchanged_reads"] == 0
    # a rewritten archive is read again (and its new module imports)
    assert got["rewritten_reads"] >= 1


def test_zip_stamp_check_not_installed_from_313(tmp_path):
    assert _zip_probe(tmp_path, fake_version=True)["patched"] is False


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(
        f"_job_{name}", os.path.join(JOBS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _SessionBuilt(Exception):
    pass


@pytest.mark.parametrize("job, argv", [
    ("crawl_job", ["--pages", "p", "--out", "o", "--checkpoint", "c"]),
    ("cc_ingest_job", ["--index", "i", "--segments-root", "s",
                       "--pages-out", "o"]),
    ("corpus_job", ["--docs", "d", "--out", "o"]),
    ("index_job", ["--docs", "d", "--out", "o"]),
])
def test_job_session_carries_engine_conf(monkeypatch, job, argv):
    from pyspark.sql import SparkSession

    from crawl4ai_custom_spark.session import ENGINE_CONF

    options: dict = {}

    def get_or_create(builder):
        options.update(builder._options)
        raise _SessionBuilt

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(_SessionBuilt):
        _load_job(job).main(argv)
    missing = {k: v for k, v in ENGINE_CONF.items() if options.get(k) != v}
    assert not missing, f"{job} builds its session without {missing}"
