"""The extraction stage: pages(url, html) -> full ExtractRow DataFrame.

One ``mapInPandas`` over the html binary column running the pure kernel
(kernel/extract.py) per Arrow batch — the Spark re-expression of the
reference's fetch->scrap->markdown->filter pipeline
(/root/reference/crawl4ai/async_webcrawler.py:435-663).

Scale notes:
- CPU-bound pure-Python/C work -> scales linearly with cores; no shuffle is
  introduced by mapInPandas (narrow transformation over the scan).
- Column pruning: only (url, html) + passthrough columns are read; put this
  stage directly after the parquet/Iceberg scan so the scan prunes to those.
- Arrow batch size is tuned at the session level (maxRecordsPerBatch) to keep
  per-batch memory bounded: html payloads are ~10-100 KiB, so 2048-row
  batches stay well under executor memory at 100 TB scale.
- Emits per-batch lineage metrics (rows, bytes, ms) as extra columns folded
  into the crawl's metrics table (reference CrawlerTaskResult parity,
  /root/reference/crawl4ai/models.py:22-37).
"""

from __future__ import annotations

import dataclasses
import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.extract import ExtractConfig, extract_page, failed_page

LINK_TYPE = ArrayType(
    StructType(
        [
            StructField("href", StringType()),
            StructField("text", StringType()),
            StructField("title", StringType()),
            StructField("base_domain", StringType()),
            StructField("is_internal", BooleanType()),
        ]
    )
)

IMAGE_TYPE = ArrayType(
    StructType(
        [
            StructField("src", StringType()),
            StructField("alt", StringType()),
            StructField("desc", StringType()),
            StructField("score", IntegerType()),
            StructField("format", StringType()),
            StructField("variants", ArrayType(StringType())),
        ]
    )
)

TABLE_TYPE = ArrayType(
    StructType(
        [
            StructField("headers", ArrayType(StringType())),
            StructField("rows", ArrayType(ArrayType(StringType()))),
            StructField("caption", StringType()),
            StructField("summary", StringType()),
        ]
    )
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("success", BooleanType()),
        StructField("title", StringType()),
        StructField("cleaned_html", StringType()),
        StructField("text", StringType()),
        StructField("raw_markdown", StringType()),
        StructField("markdown_with_citations", StringType()),
        StructField("references_markdown", StringType()),
        StructField("fit_markdown", StringType()),
        StructField("fit_html", StringType()),
        StructField("links", LINK_TYPE),
        StructField("images", IMAGE_TYPE),
        StructField("tables", TABLE_TYPE),
        StructField("metadata", MapType(StringType(), StringType())),
        StructField("n_links_internal", IntegerType()),
        StructField("n_links_external", IntegerType()),
        StructField("html_bytes", IntegerType()),
        StructField("extract_ms", DoubleType()),
        # physical lineage: which task partition extracted the row (captured
        # in the python worker — downstream joins/AQE must not overwrite it)
        StructField("exec_partition", IntegerType()),
    ]
)

_LINK_KEYS = ("href", "text", "title", "base_domain", "is_internal")
_IMG_KEYS = ("src", "alt", "desc", "score", "format", "variants")
_TBL_KEYS = ("headers", "rows", "caption", "summary")


def _extract_or_fail(url: str, html: bytes, cfg: ExtractConfig) -> dict:
    """extract_page, or the page's failure row when the kernel's recursive
    DOM walks run out of stack (a page nested hundreds of elements deep):
    one page must not fail its task, and with it the whole pass or wave.
    Any other exception is a fault of the kernel and still fails the task."""
    try:
        return extract_page(url, html, cfg)
    except RecursionError:
        return failed_page(url)


def _row_to_out(row: dict[str, Any], html_len: int, ms: float) -> dict[str, Any]:
    links = [{k: l.get(k) for k in _LINK_KEYS} for l in row["links"]]
    return {
        "url": row["url"],
        "success": row["success"],
        "title": row["title"],
        "cleaned_html": row["cleaned_html"],
        "text": row["text"],
        "raw_markdown": row["raw_markdown"],
        "markdown_with_citations": row["markdown_with_citations"],
        "references_markdown": row["references_markdown"],
        "fit_markdown": row["fit_markdown"],
        "fit_html": row["fit_html"],
        "links": links,
        "images": [{k: i.get(k) for k in _IMG_KEYS} for i in row["images"]],
        "tables": [{k: t.get(k) for k in _TBL_KEYS} for t in row["tables"]],
        "metadata": row["metadata"],
        "n_links_internal": sum(1 for l in links if l["is_internal"]),
        "n_links_external": sum(1 for l in links if not l["is_internal"]),
        "html_bytes": html_len,
        "extract_ms": ms,
    }


def schema_for(fields: tuple[str, ...] | None) -> StructType:
    """EXTRACT_SCHEMA restricted to the requested fields (order preserved)."""
    if not fields:
        return EXTRACT_SCHEMA
    want = set(fields)
    return StructType([f for f in EXTRACT_SCHEMA.fields if f.name in want])


def make_extract_fn(cfg: ExtractConfig | None = None,
                    fields: tuple[str, ...] | None = None):
    """Returns the mapInPandas function (closure carries the config —
    broadcast-free since ExtractConfig is tiny and picklable).

    ``fields`` is manual column pushdown: Catalyst cannot prune through an
    opaque mapInPandas, so restricting the emitted columns here is how a
    query that only needs (url, links) avoids shipping cleaned_html /
    fit_html through Arrow and the row converter — 2-3x on wide pages.

    The pushdown reaches INTO the kernel, not just the Arrow transfer:
    when ``fields`` excludes an output, the work that produces it is
    skipped entirely — no schema-prep fit_html parse when fit_html isn't
    asked for, no markdown/citation pass without a markdown field, no
    content-filter prune without fit_markdown. Extraction is pure
    (no side effects), so dropping unobserved work is semantics-free; a
    links-only walk (e.g. the market-intel catalog hop) measures ~1.25x
    the full kernel's page rate on the 8 KB bench pages (parse + scrap
    walks dominate; the margin widens with prose-heavy pages)."""
    cfg = cfg or ExtractConfig()
    keep = list(schema_for(fields).fieldNames()) if fields else None
    if keep is not None:
        want = set(keep)
        tuned: dict[str, Any] = {}
        if cfg.schema_fit_html and "fit_html" not in want:
            tuned["schema_fit_html"] = False
        if cfg.markdown and not want & {
            "raw_markdown", "markdown_with_citations", "references_markdown"
        }:
            tuned["markdown"] = False
        if cfg.citations and not want & {
            "markdown_with_citations", "references_markdown"
        }:
            tuned["citations"] = False
        if cfg.content_filter != "none" and "fit_markdown" not in want:
            tuned["content_filter"] = "none"
        if tuned:
            cfg = dataclasses.replace(cfg, **tuned)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                t0 = time.perf_counter()
                row = _extract_or_fail(url, html or b"", cfg)
                ms = (time.perf_counter() - t0) * 1000.0
                full = _row_to_out(row, len(html or b""), ms)
                full["exec_partition"] = pid
                out.append({k: full[k] for k in keep} if keep else full)
            yield pd.DataFrame(out)

    return fn


def extract_pages(pages: DataFrame, cfg: ExtractConfig | None = None,
                  min_parallelism: int | None = None,
                  fields: tuple[str, ...] | None = None) -> DataFrame:
    """pages must have (url string, html binary); other columns are dropped
    (select first if you need passthrough — rejoin on url after).

    Extraction is CPU-bound: if the scan yields fewer partitions than cores
    (small inputs, single parquet file), repartition so every core works.
    Large scans already carry enough partitions — no shuffle is added.

    ``fields``: emit only these output columns (manual pushdown through the
    opaque python stage — see make_extract_fn)."""
    df = _ensure_parallelism(pages.select("url", "html"), min_parallelism)
    return df.mapInPandas(make_extract_fn(cfg, fields), schema_for(fields))


def _ensure_parallelism(df: DataFrame, min_parallelism: int | None) -> DataFrame:
    """Repartition to ``min_parallelism`` (default: defaultParallelism) ONLY
    when the input would otherwise under-feed the CPU-bound python stage.

    Decides from Catalyst's own size estimate (one JVM call on the optimized
    plan — file sizes are already known from scan listing) instead of
    df.rdd.getNumPartitions(), which forces a full plan->RDD compilation
    on every call. A scan smaller than target*maxPartitionBytes would yield
    fewer splits than cores, so only then is the repartition worth its
    shuffle; big scans already carry enough partitions."""
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    try:
        size_bytes = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        size_bytes = None
    try:
        max_part = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            .lower().rstrip("b")
        )
    except Exception:
        max_part = 134217728
    # non-file-backed plans (in-memory relations, post-shuffle inputs) have
    # no real size statistic — Catalyst reports a huge default/product
    # estimate that would wrongly skip the repartition and under-parallelize
    # the CPU-bound python stage. Treat the sentinel range as "unknown" and
    # fall back to the actual partition-count check.
    if size_bytes is not None and size_bytes >= (1 << 60):
        size_bytes = None
    if df.isStreaming:
        pass  # micro-batch sizing belongs to the source (maxFilesPerTrigger)
    elif size_bytes is None or size_bytes >= target * max_part:
        # "small" verdicts from the estimate are safe (worst case: a
        # redundant tiny shuffle). "Big" verdicts are NOT: a join/window
        # plan reports the JOIN-PRODUCT estimate (measured 54 TB for a
        # 568-row admitted⋈pages wave) while its actual output partitioning
        # is the global window's SINGLE partition — skipping the
        # repartition then serializes the whole CPU-bound python stage
        # onto one core (measured 2.7 s/wave single-task extraction in the
        # BFS bench). So a big/unknown estimate is double-checked against
        # the plan's partition count; only a genuinely wide input skips the
        # shuffle. Scans declare no count, so only they compile the RDD.
        n_parts = _planned_partitions(df)
        if n_parts is None:
            n_parts = df.rdd.getNumPartitions()
        if n_parts < target:
            df = df.repartition(target)
    elif size_bytes < target * max_part:
        df = df.repartition(target)
    return df


def _planned_partitions(df: DataFrame) -> int | None:
    """Output partition count that ``df``'s physical plan declares, read
    without running anything. An adaptive plan is read as planned, before
    any of its stages run: df.rdd would instead run its broadcast and
    shuffle stages once, and the real job then runs them again. None when
    the plan declares no count (file and in-memory scans report
    UnknownPartitioning(0))."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        n = int(plan.outputPartitioning().numPartitions())
    except Exception:
        return None
    return n or None


def schema_fit_html(
    pages: DataFrame,
    text_threshold: int = 100,
    attr_value_threshold: int = 200,
    max_size: int = 100_000,
    html_col: str = "html",
    out_col: str = "fit_html",
) -> DataFrame:
    """Structure-preserving HTML shrink as a column (reference
    ``preprocess_html_for_schema``, utils.py:3001-3144): vectorized pandas
    UDF over the html column — narrow, no shuffle, prunes to the used
    columns at the scan."""
    from ..kernel.schemaprep import preprocess_html_for_schema

    @F.pandas_udf(StringType())
    def _fit(html: pd.Series) -> pd.Series:
        return html.map(
            lambda h: preprocess_html_for_schema(
                h if h is not None else "",
                text_threshold=text_threshold,
                attr_value_threshold=attr_value_threshold,
                max_size=max_size,
            )
        )

    return pages.withColumn(out_col, _fit(F.col(html_col)))


def links_table(extracted: DataFrame) -> DataFrame:
    """Explode the links array into the edge table
    (page_url, href, text, title, base_domain, is_internal)."""
    return extracted.select(
        F.col("url").alias("page_url"), F.explode("links").alias("link")
    ).select("page_url", "link.*")


def extract_pages_with_meta(pages: DataFrame, cfg: ExtractConfig | None = None,
                            min_parallelism: int | None = None) -> DataFrame:
    """One-pass fetch+extract with metadata passthrough: every column of
    ``pages`` except (html, _do_extract) is carried through the Python
    stage alongside the extraction output — no rejoin afterwards.

    ``pages`` must have (url string, html binary, _do_extract boolean, ...).
    Rows with _do_extract false (fetch miss / non-200) short-circuit to
    null extraction columns (success=false, exec_partition=-1) inside the
    worker, exactly the shape the old meta-join produced.

    This exists for the crawl wave loop: admission -> fetch join ->
    extraction -> results is ONE write job instead of two writes plus a
    url equi-join per wave."""
    cfg = cfg or ExtractConfig()
    meta_fields = [f for f in pages.schema.fields
                   if f.name not in ("html", "_do_extract")]
    meta_names = [f.name for f in meta_fields]
    extract_names = [f.name for f in EXTRACT_SCHEMA.fields if f.name != "url"]
    schema = StructType(meta_fields + [f for f in EXTRACT_SCHEMA.fields
                                       if f.name != "url"])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            out: list[dict[str, Any]] = []
            htmls = pdf["html"]
            do = pdf["_do_extract"]
            for i in range(len(pdf)):
                rec: dict[str, Any] = {k: pdf[k].iloc[i] for k in meta_names}
                html = htmls.iloc[i]
                if bool(do.iloc[i]) and html is not None:
                    t0 = time.perf_counter()
                    row = _extract_or_fail(rec["url"], html or b"", cfg)
                    ms = (time.perf_counter() - t0) * 1000.0
                    full = _row_to_out(row, len(html or b""), ms)
                    full["exec_partition"] = pid
                else:
                    full = {k: None for k in extract_names}
                    full["success"] = False
                    full["exec_partition"] = -1
                rec.update({k: full[k] for k in extract_names})
                out.append(rec)
            yield pd.DataFrame(out, columns=meta_names + extract_names)

    # same stats-based decision as extract_pages: on a large admitted set an
    # unconditional repartition would full-shuffle the html payloads that the
    # scan's own partitioning already spread wide; only narrow inputs (the
    # usual small per-wave batch) pay the shuffle to fill every core
    df = _ensure_parallelism(pages, min_parallelism)
    return df.mapInPandas(fn, schema)
