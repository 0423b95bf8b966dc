"""Site adapters: preset extraction schemas over the structured engine.

Reference parity: the hub crawlers
(/root/reference/crawl4ai/crawlers/google_search/crawler.py:1-131,
/root/reference/crawl4ai/crawlers/amazon_product/crawler.py) — thin
wrappers that pair a target site with JsonCss extraction schemas. The
reference *generates* the SERP schemas with an LLM on first run and caches
them as JSON; here the cached artifacts are deterministic presets (the
LLM-generation step is an out-of-scope external model call), and
extraction runs as one ``schema_extract`` stage per schema family over the
pages DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# -- Google SERP schema pack (google_search/crawler.py:68-131) --------------
# The three cached schema families the reference builds: organic results,
# top stories, and "people also search for" suggested queries.

SERP_ORGANIC_SCHEMA: dict = {
    "name": "organic",
    "baseSelector": "div.g",
    "fields": [
        {"name": "title", "selector": "h3", "type": "text"},
        {"name": "link", "selector": "a", "type": "attribute",
         "attribute": "href"},
        {"name": "snippet", "selector": "div.snippet", "type": "text"},
        {"name": "date", "selector": "span.date", "type": "text"},
    ],
}

SERP_TOP_STORIES_SCHEMA: dict = {
    "name": "top_stories",
    "baseSelector": "div.story",
    "fields": [
        {"name": "title", "selector": "div.story-title", "type": "text"},
        {"name": "link", "selector": "a", "type": "attribute",
         "attribute": "href"},
        {"name": "source", "selector": "span.source", "type": "text"},
        {"name": "date", "selector": "span.date", "type": "text"},
    ],
}

SERP_SUGGESTED_SCHEMA: dict = {
    "name": "suggested",
    "baseSelector": "div.suggested li",
    "fields": [
        {"name": "query", "selector": "a", "type": "text"},
    ],
}

AMAZON_PRODUCT_SCHEMA: dict = {
    "name": "product",
    "baseSelector": "div#dp-container",
    "fields": [
        {"name": "name", "selector": "span#productTitle", "type": "text"},
        {"name": "price", "selector": "span.a-price span.a-offscreen",
         "type": "text"},
    ],
}


def serp_schemas() -> dict[str, dict]:
    """The cached schema set (_build_schemas parity, crawler.py:68-131)."""
    return {
        "organic_schema": SERP_ORGANIC_SCHEMA,
        "top_stories_schema": SERP_TOP_STORIES_SCHEMA,
        "suggested_query_schema": SERP_SUGGESTED_SCHEMA,
    }


def serp_extract(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """SERP pages -> one row per page with the three extraction families
    as record arrays: (url, organic, top_stories, suggested). Each family
    is an independent schema_extract stage over the same scan; the joins
    are url-equi on the page key (broadcast at fixture scale, bucketed on
    a cluster)."""
    from .operators.structured import schema_extract

    organic = schema_extract(pages, SERP_ORGANIC_SCHEMA, url_col, html_col)
    stories = schema_extract(pages, SERP_TOP_STORIES_SCHEMA, url_col, html_col)
    sugg = schema_extract(pages, SERP_SUGGESTED_SCHEMA, url_col, html_col)
    return (
        organic.select("url", F.col("records").alias("organic"))
        .join(stories.select("url", F.col("records").alias("top_stories")),
              "url")
        .join(sugg.select("url", F.col("records").alias("suggested")), "url")
    )
