"""SparkSession factory tuned for the crawl-and-extract workload.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  (mega-host frontier skew), and dynamic join-strategy switches.
- Arrow on: every Python stage in this engine is a vectorized pandas UDF /
  mapInPandas; Arrow batch transfer is mandatory for throughput.
- shuffle.partitions is a local-mode default; on a real cluster set it to
  ~2-3x total cores or rely on AQE coalescing from a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The engine's settings: get_spark and every spark-submit job in jobs/
# apply this one mapping; spark-submit keeps master, memory and JVM options.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # pyspark's DataFrame debugging records a Python stack trace on every
    # F.col call (~1.5 ms per call with it, ~0.4 ms without, on a 4-core x86
    # host); a crawl builds its wave plans from hundreds of them on the
    # driver thread. It only adds call sites to error messages.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-code cache (a static conf: read once, when the JVM starts).
    # One depth-1 BFS crawl cycles through ~120 entries (81 distinct
    # generated sources, most cached under two class-loader keys in local
    # mode); at Spark's default of 100 the LRU evicts each entry before the
    # next wave reuses it, so every crawl recompiled ~79 classes (Janino
    # time plus JIT work on each new class). A whole wave loop fits in 2000.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "crawl4ai-custom-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master.startswith("local[") is False and master != "local" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # default heap: half the machine's memory, capped at 24g
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(24, phys // 2**31))}g"))
        # ParallelGC: ~2x on wide-row Arrow pipelines vs default G1 in
        # local mode (high allocation rate from 10-100KB string columns)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def spread_scan(df, bytes_per_task: int = 256 * 1024,
                max_parallelism: int | None = None):
    """Repartition a scan whose physical layout under-feeds the CPU-bound
    stage it drives (optimization guide §2.5, "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    Single-ROW-GROUP parquet is the unsplittable case that actually bites
    this engine: Spark plans splits by byte range but assigns each row
    group to the split holding its midpoint, so a 50k-row table written as
    one row group feeds exactly ONE task no matter what
    maxPartitionBytes says — and every per-row-expensive stage downstream
    (mapInPandas kernels, HOF cosine folds, tokenize+explode chains) runs
    on one core.

    Target = min(cores, size_bytes / bytes_per_task), from Catalyst's own
    file-scan statistics (one JVM call, no job): tiny frames keep their
    single partition instead of paying a 32-way shuffle, mid-size tables
    spread proportionally, and inputs that already carry enough partitions
    are returned unchanged. Non-file-backed plans (huge/sentinel
    estimates) fall back to the actual pre-AQE partition count."""
    spark = df.sparkSession
    cores = max_parallelism or spark.sparkContext.defaultParallelism
    try:
        size_bytes = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        size_bytes = None
    if size_bytes is not None and size_bytes < (1 << 60):
        target = min(cores, max(1, size_bytes // bytes_per_task))
    else:
        target = cores
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Small-input gate of the operators that carry a driver twin (a plain-Python
# path that returns the same rows as the distributed dataflow). One bound per
# cost class of twin:
# - rows that each carry a document, vector or signature, where the twin's
#   work grows with the square of the rows (all-pairs Jaccard, k-NN graph)
#   or with the rows' text (LSH planner, langid training);
PAIRWISE_MAX_ROWS = 512
# - rows that are small id/word tuples (edges, seeds, vocab words), where
#   the twin's work is linear in the rows.
LINEAR_MAX_ROWS = 150_000
# Each twin beat its forced distributed path with its input at the bound
# (4-core host, local[4]); langid training lost at 1024 rows and WordPiece
# training at 200k vocab words.


def collect_if_small(df, max_rows: int):
    """The rows of ``df`` collected to the driver, or None when ``df`` has
    more than ``max_rows`` rows — the one probe that picks an operator's
    driver twin over its distributed path. Input size alone decides.

    One incremental limit-collect: CollectLimit stops scanning once
    ``max_rows + 1`` rows have arrived, so a web-scale input only computes
    enough partitions to overflow the bound. Operators import this at call
    time, so substituting it (tests force the distributed path that way)
    reaches every twin."""
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def local_df(spark: SparkSession, rows: list, ddl: str):
    """Small driver-side literal tables via the Arrow fast path.

    ``createDataFrame(list_of_tuples)`` round-trips through
    ``parallelize`` + a Python-worker deserialization stage — seconds of
    worker-spinup for a handful of rows. Routing the same data through a
    pandas DataFrame uses Arrow straight into the JVM (no Python workers),
    ~10x faster for the tiny state/stat tables this engine materializes.
    An empty ``rows`` builds a zero-row relation JVM-side that Catalyst
    knows is empty.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    if not rows:
        # Filter(false) over a one-row relation: the optimizer folds it to
        # an empty LocalRelation and prunes the joins and aggregates over it
        # (spark.range(0) is a Range to Catalyst, not provably empty)
        return spark.range(1).select(*[
            F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields
        ]).where(F.lit(False))
    pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields])
    return spark.createDataFrame(pdf.astype("object"), schema=schema)
