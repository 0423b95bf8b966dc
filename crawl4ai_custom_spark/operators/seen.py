"""URL-seen set: exact anti-join + partitioned Bloom pre-filter.

Exactness contract (north rule): the URL-seen set is EXACT — candidates are
always anti-joined against the seen table on the canonical-url hash. The
partitioned Bloom is a cheap pre-filter that (at 10^10 scale) lets most
already-seen candidates drop before the big anti-join shuffle; bloom hits are
re-checked exactly, bloom misses are definitively new (no false negatives).

Reference parity: exact ``visited`` set (bfs_strategy.py:158,210) + the
experimental murmur3 Bloom (crazy.py:102-165) — here one Bloom blob per
URL-hash partition, built/merged inside ``applyInPandas`` groups keyed by
``pmod(url_hash, P)``, persisted as (partition_id, bits) binary rows.

Scale notes: the seen anti-join is THE 10^10-row shuffle. Production layout
buckets both sides by url_hash into the same bucket count (Iceberg
bucket(N, url_hash) + storage-partitioned joins) making it shuffle-free;
the bloom state is ~1.2 GiB per 10^9 urls at 1% FP, i.e. ~a few MiB per
partition blob at P=1024 — broadcastable per-partition, never collected
globally.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernel.bloom import BloomFilter

BLOOM_STATE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("bits", BinaryType(), True),
        StructField("capacity", LongType(), False),
    ]
)


def empty_seen(spark: SparkSession) -> DataFrame:
    from ..session import local_df

    return local_df(spark, [], "url_hash long")


def filter_unseen_exact(candidates: DataFrame, seen: DataFrame,
                        hash_col: str = "url_hash") -> DataFrame:
    """Left anti join: candidates whose hash is NOT in seen."""
    return candidates.join(seen, hash_col, "left_anti")


def merge_seen(seen: DataFrame, new_hashes: DataFrame,
               hash_col: str = "url_hash") -> DataFrame:
    return seen.select(hash_col).union(new_hashes.select(hash_col)).distinct()


def save_seen_bucketed(seen: DataFrame, table: str, buckets: int = 1024,
                       path: str | None = None,
                       hash_col: str = "url_hash") -> None:
    """Persist the seen set bucketed+sorted by url_hash. The production
    layout for the 10^10-row anti-join: a bucketed seen table is scanned
    WITHOUT an exchange — only the (much smaller) candidate delta shuffles
    to the bucket count. On Iceberg this is ``bucket(N, url_hash)``
    partitioning + storage-partitioned joins; here the Spark-native
    bucketBy/saveAsTable equivalent (asserted shuffle-free in
    tests/test_operators_spark.py::test_bucketed_seen_antijoin_plan)."""
    w = seen.select(hash_col).write.mode("overwrite").format("parquet")
    if path is not None:
        w = w.option("path", path)
    w.bucketBy(buckets, hash_col).sortBy(hash_col).saveAsTable(table)


def filter_unseen_bucketed(candidates: DataFrame, table: str,
                           hash_col: str = "url_hash") -> DataFrame:
    """Anti-join against a bucketed seen table (see save_seen_bucketed)."""
    seen = candidates.sparkSession.table(table)
    return candidates.join(seen, hash_col, "left_anti")


class PartitionedBloom:
    """P bloom blobs keyed by pmod(url_hash, P), all ops as grouped pandas.

    The state DataFrame is ALWAYS parquet-backed (never a collected local
    relation): blobs are ~1.2 MiB per partition, and a LocalRelation would
    embed those bytes into every logical plan that references the state —
    Catalyst copies plans during analysis/optimization, turning each
    downstream job into minutes of plan serialization. ``add`` writes the
    folded state to an alternating parquet path and re-reads it."""

    @staticmethod
    def _filter(capacity: int, fp_rate: float, blob: bytes | None):
        """Factory hook: build the per-partition membership structure from
        its serialized blob (None = empty). PartitionedCuckoo overrides."""
        return BloomFilter(
            capacity, fp_rate,
            bits=np.frombuffer(blob, dtype=np.uint8) if blob is not None else None,
        )

    def __init__(self, spark: SparkSession, num_partitions: int = 16,
                 capacity_per_partition: int = 1_000_000, fp_rate: float = 0.01,
                 state_dir: str | None = None):
        import tempfile

        self.spark = spark
        self.p = num_partitions
        self.capacity = capacity_per_partition
        self.fp_rate = fp_rate
        self.state_dir = state_dir or tempfile.mkdtemp(prefix="bloom_state_")
        self._flip = 0
        from ..session import local_df

        self.state: DataFrame = local_df(
            spark,
            [(i, None, capacity_per_partition) for i in range(num_partitions)],
            BLOOM_STATE_SCHEMA,
        )

    def _part(self, hash_col) -> F.Column:
        return F.pmod(hash_col, F.lit(self.p)).cast("int")

    def prefilter(self, candidates: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Adds boolean ``bloom_maybe_seen``: False => definitively unseen.

        Cogrouped applyInPandas: each hash-partition group receives its
        bloom blob ONCE (never joined onto every candidate row — that would
        push |candidates| x blob_size through the shuffle)."""
        cap, fp = self.capacity, self.fp_rate
        make = type(self)._filter  # plain function: picklable by reference
        cands = candidates.withColumn("partition_id", self._part(F.col(hash_col)))
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", bloom_maybe_seen boolean"

        def test(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0:
                base = left.drop(columns=["partition_id"])
                base["bloom_maybe_seen"] = pd.Series([], dtype="bool")
                return base
            base = left.drop(columns=["partition_id"])
            bits = right["bits"].iloc[0] if len(right) else None
            if bits is None:
                base["bloom_maybe_seen"] = False
                return base
            bf = make(cap, fp, bits)
            hashes = left[hash_col].to_numpy(dtype=np.int64).astype(np.uint64)
            base["bloom_maybe_seen"] = bf.contains_many(hashes)
            return base

        return (
            cands.groupBy("partition_id")
            .cogroup(self.state.groupBy("partition_id"))
            .applyInPandas(test, ddl)
        )

    def add(self, new_urls: DataFrame, hash_col: str = "url_hash") -> None:
        """Fold new hashes into the partition blobs (pure fold, new state DF)."""
        cap, fp = self.capacity, self.fp_rate
        make = type(self)._filter
        hashes = new_urls.select(
            F.col(hash_col).alias("url_hash"),
            self._part(F.col(hash_col)).alias("partition_id"),
        )

        def fold(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            bits = right["bits"].iloc[0] if len(right) else None
            bf = make(cap, fp, bits)
            hs = left["url_hash"].dropna()
            if len(hs):
                bf.add_many(hs.to_numpy(dtype=np.int64).astype(np.uint64))
            return pd.DataFrame(
                {"partition_id": [pid], "bits": [bf.to_bytes()], "capacity": [cap]}
            )

        new_state = (
            hashes.groupBy("partition_id")
            .cogroup(self.state.groupBy("partition_id"))
            .applyInPandas(fold, BLOOM_STATE_SCHEMA)
        )
        self._swap_state(new_state)

    def _swap_state(self, new_state: DataFrame) -> None:
        """Materialize a folded state via parquet on an alternating path
        (the fold READS the current state, so never overwrite the file
        being read), read back with its known schema (a bare read.parquet
        runs a Spark job to infer it)."""
        import os

        path = os.path.join(self.state_dir, f"bloom_{self._flip}")
        self._flip ^= 1
        new_state.write.mode("overwrite").parquet(path)
        self.state = self.spark.read.schema(BLOOM_STATE_SCHEMA).parquet(path)

    def save(self, path: str) -> None:
        self.state.write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark: SparkSession, path: str, num_partitions: int,
             capacity_per_partition: int = 1_000_000, fp_rate: float = 0.01
             ) -> "PartitionedBloom":
        pb = cls(spark, num_partitions, capacity_per_partition, fp_rate)
        pb.state = spark.read.schema(BLOOM_STATE_SCHEMA).parquet(path)
        return pb


class PartitionedCuckoo(PartitionedBloom):
    """PartitionedBloom with cuckoo blobs: same prefilter/add/save contract
    (``bloom_maybe_seen`` column name kept so the engine's prefilter path
    is structure-agnostic), plus ``remove`` — the deletion capability bloom
    cannot offer. Use case: seen-set retirement for re-crawl scheduling
    (`recrawl.revisit_priority` decides WHAT to retire; remove() here must
    be paired with deleting the same hashes from the EXACT seen table,
    which remains the membership source of truth)."""

    @staticmethod
    def _filter(capacity: int, fp_rate: float, blob: bytes | None):
        from ..kernel.cuckoo import CuckooFilter

        return CuckooFilter(capacity, fp_rate, blob=blob)

    def remove(self, urls: DataFrame, hash_col: str = "url_hash") -> None:
        """Fold deletions into the partition blobs (pure fold, new state)."""
        cap, fp = self.capacity, self.fp_rate
        make = type(self)._filter
        hashes = urls.select(
            F.col(hash_col).alias("url_hash"),
            self._part(F.col(hash_col)).alias("partition_id"),
        )

        def fold(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            bits = right["bits"].iloc[0] if len(right) else None
            bf = make(cap, fp, bits)
            hs = left["url_hash"].dropna()
            if len(hs):
                bf.delete_many(hs.to_numpy(dtype=np.int64).astype(np.uint64))
            return pd.DataFrame(
                {"partition_id": [pid], "bits": [bf.to_bytes()], "capacity": [cap]}
            )

        new_state = (
            hashes.groupBy("partition_id")
            .cogroup(self.state.groupBy("partition_id"))
            .applyInPandas(fold, BLOOM_STATE_SCHEMA)
        )
        self._swap_state(new_state)
