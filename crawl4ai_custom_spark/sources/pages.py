"""Pages-table loaders: raw captures and the latest-capture view.

The pages table IS the fetched web (BASELINE.json input_hint): "fetching" a
url is a join against this table. A url can have multiple captures
(warc_ts); crawls fetch the latest (Window row_number over warc_ts desc —
the as-of operator of this engine, cf. SURVEY.md §2.1 "Playwright page
fetch" mapping).

The crawl wave engine keeps no copy of this view: each wave joins the raw
captures to its admitted urls first and takes the latest capture per
admitted url after the join, so the window runs over the wave's rows on
the join's own partitioning (no extra shuffle). Over a whole table the
window shuffles on url — at 10^10 rows that is the big shuffle, so
production tables should be bucketed/partitioned by ``xxhash64(url)``
(Iceberg bucket(N, url)) letting it run shuffle-free per bucket.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load_pages(spark: SparkSession, path_or_dir: str) -> DataFrame:
    p = path_or_dir
    if os.path.isdir(p) and os.path.exists(os.path.join(p, "pages.parquet")):
        p = os.path.join(p, "pages.parquet")
    return spark.read.parquet(p)


def latest_pages(pages: DataFrame, key: str = "url") -> DataFrame:
    """One row per ``key``: the capture with max warc_ts (ties: first)."""
    w = Window.partitionBy(key).orderBy(F.desc("warc_ts"))
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def load_latest_pages(spark: SparkSession, path_or_dir: str) -> DataFrame:
    return latest_pages(load_pages(spark, path_or_dir))
