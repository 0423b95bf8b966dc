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

Scale notes: the seen anti-join is THE 10^10-row shuffle. At that scale the
seen table belongs in an Iceberg ``bucket(N, url_hash)`` layout so
storage-partitioned joins scan it without an exchange (the engine here
anti-joins the plain parquet seen deltas); the bloom state is ~1.2 GiB per
10^9 urls at 1% FP, i.e. ~a few MiB per partition blob at P=1024 —
broadcastable per-partition, never collected globally.
"""

from __future__ import annotations

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


def _bloom(capacity: int, fp_rate: float, blob: bytes | None) -> BloomFilter:
    """One partition's filter from its serialized blob (None = empty)."""
    return BloomFilter(
        capacity, fp_rate,
        bits=np.frombuffer(blob, dtype=np.uint8) if blob is not None else None,
    )


def filter_unseen_exact(candidates: DataFrame, seen: DataFrame,
                        hash_col: str = "url_hash") -> DataFrame:
    """Left anti join: candidates whose hash is NOT in seen."""
    return candidates.join(seen, hash_col, "left_anti")


class PartitionedBloom:
    """P bloom blobs keyed by pmod(url_hash, P), all ops as grouped pandas.

    The state DataFrame is ALWAYS parquet-backed (never a collected local
    relation): blobs are ~1.2 MiB per partition, and a LocalRelation would
    embed those bytes into every logical plan that references the state —
    Catalyst copies plans during analysis/optimization, turning each
    downstream job into minutes of plan serialization. ``add`` writes the
    folded state to an alternating parquet path and re-reads it."""

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
            bf = _bloom(cap, fp, bits)
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
        hashes = new_urls.select(
            F.col(hash_col).alias("url_hash"),
            self._part(F.col(hash_col)).alias("partition_id"),
        )

        def fold(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            bits = right["bits"].iloc[0] if len(right) else None
            bf = _bloom(cap, fp, bits)
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
