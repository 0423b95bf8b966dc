"""Wave checkpointing: exact resume from the latest complete snapshot.

Reference parity: CrawlState.save/load pickle checkpoints
(/root/reference/crawl4ai/adaptive_crawler.py:53-111) -> here an
Iceberg-style snapshot directory per wave:

    <root>/wave=<k>/{frontier,host_state,bloom,stats}.parquet
    <root>/wave=<k>/_MANIFEST.json        (written LAST -> commit marker)

The seen set is NOT a table here: it is the union of immutable delta files
(the seeds + each discovering wave's new_links parquet), listed in the
manifest meta as ``seen_deltas`` — append-only, so per-wave state IO stays
O(Δ).

A snapshot is only visible once its manifest exists, giving the same
atomic-commit semantics Iceberg snapshots provide (on a real deployment this
module swaps for ``MERGE INTO`` + snapshot tags; the layout keeps state
tables identical). Resume = read the highest complete wave; an interrupted
wave k+1 simply re-runs from wave k's state, and the wave loop is a pure
function of that state, so the resumed crawl is identical (tested in
tests/test_frontier.py::test_resume_from_checkpoint).

Lineage: stats.parquet carries per-(wave, executor-partition, registrable
domain) fetch/extract metrics — rows fetched, extraction successes, html
bytes, extract milliseconds — the reference's CrawlerTaskResult /
TraversalStats equivalents (models.py:22-37,100-108), queryable across waves
via ``CrawlRun.lineage(spark)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = ("frontier", "host_state", "bloom", "stats")


class CheckpointStore:
    """Facade over a SnapshotBackend (state/backend.py). The public surface
    (write/read/complete_waves/latest_wave/_wave_dir) is unchanged; the
    storage protocol — parquet+manifest here, Iceberg MERGE INTO + snapshot
    tags in production — is the backend's concern."""

    def __init__(self, spark: SparkSession, root: str, backend=None):
        from .backend import ParquetManifestBackend

        self.spark = spark
        self.root = root
        self.backend = backend or ParquetManifestBackend(spark, root)

    def _wave_dir(self, wave: int) -> str:
        # parquet-backend physical layout (frontier.py reads footer counts
        # from here); other backends expose table_path(wave, name) = None
        from .backend import ParquetManifestBackend

        if isinstance(self.backend, ParquetManifestBackend):
            return self.backend.wave_dir(wave)
        return os.path.join(self.root, f"wave={wave:05d}")

    def write(self, wave: int, tables: dict[str, DataFrame],
              meta: dict | None = None) -> None:
        self.backend.write_snapshot(wave, tables, meta)

    def complete_waves(self) -> list[int]:
        return self.backend.complete_waves()

    def latest_wave(self) -> int | None:
        waves = self.complete_waves()
        return waves[-1] if waves else None

    def read(self, wave: int) -> dict[str, DataFrame]:
        return self.backend.read_snapshot(wave)
