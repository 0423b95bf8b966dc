"""Spark-level tests: urlops columns, latest-capture view, extraction stage.

Invariant checked here (BASELINE input_hint): the Spark-extracted ``text``
equals the oracle ``text`` column the generator stored (which was produced by
the same pure kernel) — i.e. extraction through mapInPandas is byte-identical
to single-process extraction, per url.
"""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from crawl4ai_custom_spark.operators.extraction import extract_pages, links_table
from crawl4ai_custom_spark.kernel.urlnorm import canonicalize_url
from crawl4ai_custom_spark.operators.urlops import (
    canonicalize_abs_udf,
    registrable_domain_udf,
    stable_hash60,
    url_depth_col,
    url_extension,
    url_host,
    url_is_valid,
    url_path,
)
from crawl4ai_custom_spark.sources.pages import load_latest_pages, load_pages


@pytest.fixture(scope="module")
def latest(spark, site_dir):
    df = load_latest_pages(spark, site_dir).cache()
    df.count()
    return df


def test_latest_pages_one_row_per_url(spark, site_dir):
    raw = load_pages(spark, site_dir)
    latest = load_latest_pages(spark, site_dir)
    assert raw.count() > latest.count()
    assert latest.groupBy("url").count().where("count > 1").count() == 0


def test_latest_pages_picks_max_ts(spark, site_dir):
    raw = load_pages(spark, site_dir)
    dup_url = (
        raw.groupBy("url").count().where("count > 1").select("url").first()["url"]
    )
    expected_ts = raw.where(F.col("url") == dup_url).agg(F.max("warc_ts")).first()[0]
    got = load_latest_pages(spark, site_dir).where(F.col("url") == dup_url).first()
    assert got["warc_ts"] == expected_ts


def test_url_native_expressions(spark):
    df = spark.createDataFrame(
        [
            ("https://www.example.com/a/b/page.html?x=1",),
            ("http://sub.shop.co.uk:8080/file.PDF",),
            ("notaurl",),
            ("ftp://example.com/x",),
        ],
        ["url"],
    )
    rows = df.select(
        "url",
        url_is_valid(F.col("url")).alias("valid"),
        url_host(F.col("url")).alias("host"),
        url_path(F.col("url")).alias("path"),
        url_extension(F.col("url")).alias("ext"),
        url_depth_col(F.col("url")).alias("depth"),
    ).collect()
    r0, r1, r2, r3 = rows
    assert r0["valid"] and r0["host"] == "www.example.com" and r0["ext"] == "html"
    assert r0["path"] == "/a/b/page.html" and r0["depth"] == 3
    assert r1["host"] == "sub.shop.co.uk" and r1["ext"] == "pdf"
    assert not r2["valid"] and not r3["valid"]


def test_url_depth(spark):
    df = spark.createDataFrame(
        [("https://e.com/",), ("https://e.com",), ("https://e.com/a/b/c",),
         ("https://e.com/a//b/?q=1/2",)],
        ["url"],
    )
    got = [r[0] for r in df.select(url_depth_col(F.col("url"))).collect()]
    assert got == [0, 0, 3, 2]


def test_canonical_url_and_domain_udfs(spark):
    """The frontier's seed columns: the kernel's canonical key and its
    registrable domain, NULL for NULL or empty input."""
    urls = ["https://WWW.Example.com/a/?utm_source=x",
            "https://shop1.example1.com/b#f", None, ""]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url", canonicalize_abs_udf(F.col("url")).alias("url_canon")
    ).withColumn(
        "registrable_domain", registrable_domain_udf(F.col("url_canon"))
    ).collect()
    got = [(r["url_canon"], r["registrable_domain"]) for r in rows]
    assert got == [
        ("https://www.example.com/a", "example.com"),
        ("https://shop1.example1.com/b", "example1.com"),
        (None, None),
        (None, None),
    ]
    assert [g[0] for g in got[:2]] == [canonicalize_url(u) for u in urls[:2]]


def test_stable_hash60_matches_kernel(spark):
    from crawl4ai_custom_spark.kernel.textproc import stable_hash64

    df = spark.createDataFrame([("abc",), ("https://x.com/",)], ["s"])
    rows = df.select("s", stable_hash60(F.col("s")).alias("h")).collect()
    for r in rows:
        assert r["h"] == stable_hash64(r["s"])


def test_extraction_matches_oracle_text_byte_identical(latest):
    ext = extract_pages(latest.select("url", "html"))
    joined = ext.alias("e").join(latest.alias("p"), "url").select(
        "url", F.col("e.text").alias("got"), F.col("p.text").alias("want")
    )
    total = joined.count()
    mismatches = joined.where(F.col("got") != F.col("want")).count()
    assert total > 100
    assert mismatches == 0


def test_extraction_schema_and_links(latest):
    ext = extract_pages(latest.select("url", "html")).cache()
    row = ext.where(F.col("url").contains("item-")).first()
    assert row["success"] and row["raw_markdown"]
    assert row["tables"] and row["tables"][0]["headers"][0] == "Property"
    assert row["n_links_internal"] > 0
    edges = links_table(ext)
    assert edges.where(F.col("is_internal")).count() > 0
    assert edges.where(~F.col("is_internal")).count() > 0
    # every href is canonical: no fragments, no utm params, no mailto
    bad = edges.where(
        F.col("href").contains("#")
        | F.col("href").contains("utm_")
        | F.col("href").startswith("mailto")
    ).count()
    assert bad == 0
    ext.unpersist()


_DEEP_URL = "https://deep.example.com/nested"
_DEEP_HTML = (b"<html><body>" + b"<div>" * 2000 + b"deep" + b"</div>" * 2000
              + b"</body></html>")

def _stable(row: dict) -> dict:
    """An output row without its timing and task lineage."""
    return {k: v for k, v in row.items()
            if k not in ("extract_ms", "exec_partition")}


def test_kernel_recursion_on_one_page_becomes_its_failure_row(monkeypatch,
                                                             latest):
    """When the kernel runs out of stack on one page, the extraction worker
    emits that page's failure row (success False, every extracted field
    empty) and the rest of the batch exactly as without it; any other
    kernel exception still fails the batch."""
    from crawl4ai_custom_spark.operators import extraction

    pdf = latest.select("url", "html").limit(40).toPandas()
    want = [_stable(r) for b in extraction.make_extract_fn()(iter([pdf]))
            for r in b.to_dict("records")]
    real = extraction.extract_page

    def kernel(exc):
        def extract_page(url, html, cfg=None):
            if url == _DEEP_URL:
                raise exc("raised by the test kernel")
            return real(url, html, cfg)
        return extract_page

    mixed = pd.concat([pdf.iloc[:20], pd.DataFrame(
        {"url": [_DEEP_URL], "html": [b"<p>x</p>"]}), pdf.iloc[20:]],
        ignore_index=True)
    monkeypatch.setattr(extraction, "extract_page", kernel(RecursionError))
    got = [_stable(r) for b in extraction.make_extract_fn()(iter([mixed]))
           for r in b.to_dict("records")]
    failed = got.pop(20)
    assert failed["url"] == _DEEP_URL and failed["success"] is False
    assert failed["html_bytes"] == len(b"<p>x</p>")
    for c in ("title", "cleaned_html", "text", "raw_markdown",
              "markdown_with_citations", "references_markdown",
              "fit_markdown", "fit_html"):
        assert failed[c] == "", c
    assert failed["links"] == failed["images"] == failed["tables"] == []
    assert len(want) == 40 and got == want

    monkeypatch.setattr(extraction, "extract_page", kernel(TypeError))
    with pytest.raises(TypeError):
        list(extraction.make_extract_fn()(iter([mixed])))


def test_one_deep_page_leaves_the_batch_intact(spark, latest):
    """A page nested 2000 elements deep, mixed into the fixture pages, gets
    one row of its own and every other row is byte-identical to a run
    without it (today's recursive DOM walks give up on that page, which
    then counts as not extracted)."""
    from crawl4ai_custom_spark.operators.extraction import EXTRACT_SCHEMA

    pages = latest.select("url", "html")
    with_deep = pages.unionByName(
        spark.createDataFrame([(_DEEP_URL, _DEEP_HTML)], pages.schema))
    cols = [c for c in EXTRACT_SCHEMA.fieldNames()
            if c not in ("extract_ms", "exec_partition")]

    def rows(df):
        return {r["url"]: r for r in extract_pages(df).select(*cols).collect()}

    want, got = rows(pages), rows(with_deep)
    assert got.pop(_DEEP_URL)["html_bytes"] == len(_DEEP_HTML)
    assert len(want) > 100 and got == want


def test_extract_with_meta_keeps_the_batch_past_a_deep_page(spark):
    """The crawl wave's extraction stage keeps the rest of its batch when
    one page is nested too deep for the kernel."""
    from crawl4ai_custom_spark.operators.extraction import extract_pages_with_meta

    pages = spark.createDataFrame(
        [("https://ok.example.com/", b"<html><body><p>fine</p></body></html>",
          True, 0), (_DEEP_URL, _DEEP_HTML, True, 0)],
        "url string, html binary, _do_extract boolean, depth int")
    got = {r["url"]: r for r in extract_pages_with_meta(pages).collect()}
    assert got["https://ok.example.com/"]["success"] is True
    assert "fine" in got["https://ok.example.com/"]["text"]
    assert got[_DEEP_URL]["html_bytes"] == len(_DEEP_HTML)


def test_extract_with_meta_skips_repartition_when_already_wide(spark):
    """extract_pages_with_meta must not insert an Exchange when the input
    already carries >= target partitions (a full shuffle of html payloads
    at scale); it must still widen a narrow input."""
    from crawl4ai_custom_spark.operators.extraction import extract_pages_with_meta

    rows = [(f"http://w.com/{i}", b"<p>x</p>", True, 0) for i in range(8)]
    base = spark.createDataFrame(
        rows, "url string, html binary, _do_extract boolean, depth int"
    )

    # createDataFrame spreads rows over defaultParallelism partitions — no
    # Exchange of its own, unlike an explicit .repartition() input
    assert base.rdd.getNumPartitions() >= 4
    out = extract_pages_with_meta(base, min_parallelism=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # input already carries >= target partitions: no Exchange may be inserted
    assert "Exchange" not in plan, plan

    narrow = base.coalesce(1)
    out2 = extract_pages_with_meta(narrow, min_parallelism=4)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2, plan2
    # and the stage still produces correct rows either way
    assert out.count() == 8 and out2.count() == 8


def test_planned_partitions_reads_the_plan_without_a_job(spark, jobs_started):
    """The width check reads a join/window plan's partition count from the
    plan itself: the fetch-shaped right join over a global-window frame is
    one partition while its left side is broadcast, and a sort-merge join
    is shuffle-partitions wide. Reading either starts no Spark job (df.rdd
    would run the plan's broadcast and shuffle stages). Scans declare no
    count, so the caller falls back to df.rdd for them."""
    from pyspark.sql import Window

    from crawl4ai_custom_spark.operators.extraction import _planned_partitions

    left = spark.range(40).select(F.col("id"), F.lit(b"<p>x</p>").alias("html"))
    ranked = spark.range(40).select("id", (F.col("id") % 7).alias("k"))
    ranked = ranked.withColumn("o", F.row_number().over(Window.orderBy("k")))
    got = {}

    def read():
        got["broadcast"] = _planned_partitions(left.join(ranked, "id", "right"))
        got["merge"] = _planned_partitions(
            left.hint("merge").join(ranked, "id", "right"))
        got["scan"] = _planned_partitions(
            spark.createDataFrame([(1, b"x")], "id long, html binary"))

    assert jobs_started(read) == 0
    assert got == {
        "broadcast": 1,
        "merge": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "scan": None,
    }


def test_fields_pushdown_skips_unobserved_kernel_work(latest):
    """The fields pushdown must reach into the kernel (skip fit_html /
    markdown / content-filter work that no requested field observes) while
    leaving every REQUESTED column byte-identical to the full extraction."""
    sample = latest.select("url", "html").limit(40).cache()
    sample.count()

    full = extract_pages(sample)
    links_only = extract_pages(sample, fields=("url", "links"))
    assert links_only.columns == ["url", "links"]
    j = (
        full.select("url", F.col("links").alias("want"))
        .join(links_only.withColumnRenamed("links", "got"), "url")
    )
    assert j.count() == 40
    assert j.where(F.col("got") != F.col("want")).count() == 0

    # a markdown-bearing subset still gets the identical markdown
    md_only = extract_pages(sample, fields=("url", "raw_markdown"))
    j2 = (
        full.select("url", F.col("raw_markdown").alias("want"))
        .join(md_only.withColumnRenamed("raw_markdown", "got"), "url")
    )
    assert j2.where(F.col("got") != F.col("want")).count() == 0

    # asking for the cited variant re-enables the citation pass and the
    # output stays byte-identical to the full extraction's
    cited = extract_pages(sample, fields=("url", "markdown_with_citations"))
    j3 = (
        full.select("url", F.col("markdown_with_citations").alias("want"))
        .join(cited.withColumnRenamed("markdown_with_citations", "got"), "url")
    )
    assert j3.where(F.col("got") != F.col("want")).count() == 0
    sample.unpersist()


def test_extract_config_markdown_off_kernel():
    """Kernel contract for the pushdown: markdown=False empties only the
    markdown outputs; links/text/metadata are unchanged."""
    from crawl4ai_custom_spark.kernel.extract import ExtractConfig, extract_page

    html = (b"<html><head><title>T</title></head><body><h1>Hi</h1>"
            b"<p>Some prose with a <a href='/x'>link</a>.</p></body></html>")
    url = "http://k.com/a"
    full = extract_page(url, html)
    lean = extract_page(
        url, html,
        ExtractConfig(markdown=False, content_filter="none",
                      schema_fit_html=False),
    )
    assert lean["raw_markdown"] == "" and lean["fit_markdown"] == ""
    assert lean["fit_html"] == "" and lean["markdown_with_citations"] == ""
    assert lean["links"] == full["links"]
    assert lean["text"] == full["text"]
    assert lean["metadata"] == full["metadata"]
    assert full["raw_markdown"]  # the full path still produces markdown
