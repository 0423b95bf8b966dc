"""URL column operators: canonicalization UDFs + native predicates.

Slow path (vectorized pandas UDFs over urllib logic): canonicalize, normalize,
registrable_domain, is_external — the kernel functions of
kernel/urlnorm.py applied per Arrow batch.

Fast path (pure Catalyst expressions, no Python): url validity predicate,
extension extraction, path depth, url hash. Use these in WHERE clauses so
predicate pushdown and whole-stage codegen stay intact; only feed survivors
to the pandas UDFs (dedup-before-expensive-UDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

from ..kernel import urlnorm

# ---------------------------------------------------------------------------
# vectorized pandas UDFs (Arrow batches; kernel logic)
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def canonicalize_abs_udf(url: pd.Series) -> pd.Series:
    return url.map(lambda u: urlnorm.canonicalize_url(u) if u else None)


@F.pandas_udf(StringType())
def normalize_udf(href: pd.Series, base: pd.Series) -> pd.Series:
    return pd.Series(
        [urlnorm.normalize_url(h, b) for h, b in zip(href, base)], dtype="object"
    )


@F.pandas_udf(StringType())
def registrable_domain_udf(url: pd.Series) -> pd.Series:
    cache: dict[str, str] = {}
    def rd(u):
        if u is None:
            return None
        if u not in cache:
            cache[u] = urlnorm.registrable_domain(u)
        return cache[u]
    return url.map(rd)


@F.pandas_udf(BooleanType())
def is_external_udf(url: pd.Series, base: pd.Series) -> pd.Series:
    return pd.Series(
        [urlnorm.is_external_url(u, b) if u and b else None for u, b in zip(url, base)],
        dtype="object",
    )


# ---------------------------------------------------------------------------
# native Catalyst expressions (fast path — keep in WHERE clauses)
# ---------------------------------------------------------------------------


def url_is_valid(col: Column) -> Column:
    """scheme in {http,https}, dotted host — native rlike, JVM-side.
    (Reference predicate: deep_crawling/bfs_strategy.py:52-72.)"""
    return col.rlike(r"^https?://[^/?#]*\.[^/?#]+")


def url_host(col: Column) -> Column:
    """Host (netloc sans port/creds) as a native expression."""
    h = F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)
    return F.lower(h)


def url_path(col: Column) -> Column:
    return F.regexp_extract(col, r"^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)?", 1)


def url_extension(col: Column) -> Column:
    """Lowercased file extension of the path ('' when none)."""
    return F.lower(F.regexp_extract(col, r"\.([A-Za-z0-9]{1,5})(?:[?#]|$)", 1))


def url_depth_col(col: Column) -> Column:
    """Number of non-empty path segments — native split/filter."""
    path = url_path(col)
    return F.size(F.filter(F.split(path, "/"), lambda s: s != F.lit("")))


def stable_hash60(col: Column) -> Column:
    """Oracle-reproducible 60-bit hash: int(md5(x)[:15], 16).
    Matches kernel.textproc.stable_hash64 and DuckDB
    ('0x'||substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def url_template(url: Column) -> Column:
    """Collapse numeric segments to '{N}' — the standard parametrized-page
    template key (/product/12345 -> /product/{N}). Native regexp, RE2-safe
    so the oracle runs the identical pattern."""
    return F.regexp_replace(url, r"\d+", "{N}")


def template_stats(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-template page counts + deterministic example — how a crawler
    spots infinite parameter spaces (calendars, pagination, session ids)
    before burning budget on them. One groupBy on the templated key."""
    t = url_template(F.col(url_col))
    return (
        urls.select(t.alias("template"), F.col(url_col).alias("u"))
        .groupBy("template")
        .agg(F.count(F.lit(1)).alias("n_urls"),
             F.min("u").alias("example_url"))
    )


def trap_template(url: Column) -> Column:
    """Trap-detection template key: collapse >=8-char lowercase-hex runs
    to '{H}' (session ids, cache busters, content hashes) THEN digit runs
    to '{N}' (calendars, pagination, numeric ids). Native regexp,
    RE2-safe, so the oracle applies the identical two passes."""
    h = F.regexp_replace(url, r"[0-9a-f]{8,}", "{H}")
    return F.regexp_replace(h, r"\d+", "{N}")


def crawl_traps(urls: DataFrame, url_col: str = "url",
                min_urls: int = 50, min_share: float = 0.5) -> DataFrame:
    """Crawl-trap detection: (host, template) groups whose distinct-URL
    count explodes — infinite calendars, session-id links, faceted
    pagination — the parameter spaces a frontier must blocklist before
    burning budget on them (the reference's URLPatternFilter,
    deep_crawling/filters.py, expects a human to hand-write these
    patterns; at 10^10 frontier scale the patterns must be mined from
    the data).

    A (host, template) is flagged when it holds >= min_urls distinct
    URLs AND >= min_share of its host's distinct URLs. Returns one row
    per (host, template): n_urls, host_total, url_share, is_trap.

    Scale shape: one groupBy over (host, template) with map-side partial
    aggs; the host rollup is a second agg over the ALREADY-AGGREGATED
    template table (tiny next to the url set) joined back on host. No
    window over raw URLs, nothing driver-side."""
    return traps_from_counts(trap_counts(urls, url_col=url_col),
                             min_urls=min_urls, min_share=min_share)


def trap_counts(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, template, n_urls) distinct-URL counts — the incremental half
    of :func:`crawl_traps`. A crawl appends one of these per wave over its
    O(Δ) discovery delta (deltas are anti-joined against seen before they
    are written, so each url lands in exactly one delta and per-wave
    counts SUM to exact distinct totals across waves)."""
    host = url_host(F.col(url_col))
    return (
        urls.select(host.alias("host"),
                    trap_template(F.col(url_col)).alias("template"),
                    F.col(url_col).alias("u"))
        .groupBy("host", "template")
        .agg(F.countDistinct("u").alias("n_urls"))
    )


def traps_from_counts(counts: DataFrame, min_urls: int = 50,
                      min_share: float = 0.5) -> DataFrame:
    """Fold (host, template, n_urls) count rows (one batch or a union of
    per-wave deltas) into the flagged trap table — same output schema and
    thresholds as :func:`crawl_traps`."""
    per = counts.groupBy("host", "template").agg(
        F.sum("n_urls").alias("n_urls"))
    totals = per.groupBy("host").agg(F.sum("n_urls").alias("host_total"))
    return (
        per.join(totals, "host")
        .select(
            "host", "template", "n_urls", "host_total",
            F.round(F.col("n_urls") / F.col("host_total") + 1e-9, 6)
            .alias("url_share"),
            ((F.col("n_urls") >= min_urls)
             & (F.col("n_urls") / F.col("host_total") >= min_share))
            .alias("is_trap"),
        )
    )


def filter_trapped_urls(urls: DataFrame, traps: DataFrame,
                        url_col: str = "url") -> DataFrame:
    """Drop URLs whose (host, template) key is a flagged trap — the
    admission-side consumer of :func:`crawl_traps`. The trap list is a
    per-epoch mined blocklist (thousands of rows next to a 10^10
    frontier), so it broadcasts; the frontier never shuffles."""
    t = traps.where(F.col("is_trap")).select("host", "template")
    keyed = urls.withColumn("_h", url_host(F.col(url_col))).withColumn(
        "_t", trap_template(F.col(url_col)))
    return (
        keyed.join(
            F.broadcast(t),
            (keyed._h == t.host) & (keyed._t == t.template),
            "left_anti",
        )
        .drop("_h", "_t")
    )
