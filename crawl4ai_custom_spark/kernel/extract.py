"""The per-page extraction kernel: html bytes -> full ExtractRow dict.

This is the single pure function that both the Spark mapInPandas stage
(operators/extraction.py) and pytest exercise — the reference's
``aprocess_html`` pipeline (/root/reference/crawl4ai/async_webcrawler.py:435-663)
collapsed into one deterministic call:

  scrap (clean/links/media/meta/tables)
    -> markdown (raw / citations / references)
    -> fit pass (Pruning or BM25 content filter -> fit_markdown)
  plus fit_html, the schema-preprocessed raw html (kernel/schemaprep.py)

Per-row invariant: ``extract_page`` is pure — same (url, html, config) bytes
in, same row out, regardless of partitioning or batch boundaries.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from .content_filter import BM25ContentFilter, PruningContentFilter
from .htmldom import Node, parse_html
from .markdown import convert_links_to_citations, html_to_markdown
from .schemaprep import fit_html_for_page
from .scraper import ScrapeConfig, scrap


@dataclass
class ExtractConfig:
    scrape: ScrapeConfig = field(default_factory=ScrapeConfig)
    content_filter: str = "pruning"       # 'pruning' | 'bm25' | 'none'
    prune_threshold: float = 0.48
    prune_min_words: int | None = None  # reference min_word_threshold
    bm25_threshold: float = 1.0
    bm25_query: str | None = None
    # CrawlResult.fit_html parity: schema-preprocessed RAW html (reference
    # async_webcrawler.py:515). False skips the second parse when a caller
    # only needs markdown/links.
    schema_fit_html: bool = True
    # False skips the markdown conversion + citation pass entirely (the
    # raw_markdown / markdown_with_citations / references_markdown outputs
    # come back empty). A link/metadata-only walk doesn't pay for prose.
    markdown: bool = True
    # False skips only the citation regex post-pass (raw_markdown still
    # produced): a caller wanting raw markdown but not the cited variants
    # shouldn't pay a second full-text regex walk.
    citations: bool = True


def failed_page(url: str) -> dict[str, Any]:
    """The row of a page the kernel could not extract: success False,
    every extracted field empty."""
    return {
        "url": url, "success": False, "cleaned_html": "", "text": "",
        "title": "", "raw_markdown": "", "markdown_with_citations": "",
        "references_markdown": "", "fit_markdown": "", "fit_html": "",
        "links": [], "images": [], "tables": [], "metadata": {},
    }


def extract_page(
    url: str, html: bytes | str, cfg: ExtractConfig | None = None
) -> dict[str, Any]:
    cfg = cfg or ExtractConfig()
    # one parse for the whole page: fit_html clones the pristine tree
    # (clone ~7x cheaper than a re-parse), scrap then owns and mutates it
    raw_tree = parse_html(html) if cfg.schema_fit_html else None
    fit_html = fit_html_for_page(html, tree=raw_tree) if cfg.schema_fit_html else ""
    sr = scrap(url, raw_tree if raw_tree is not None else html, cfg.scrape)
    if not sr.success:
        return failed_page(url)

    # one DOM for the whole downstream: markdown walks the cleaned tree
    # scrap() built (no re-parse); the content filter then consumes that
    # same tree (markdown is already captured — pruning mutates it in
    # place, BM25 clones survivors), so fit_markdown walks live Nodes
    # instead of re-parsing serialized fragments.
    tree = sr.body_node if sr.body_node is not None else parse_html(sr.cleaned_html)
    raw_md = cited_md = references_md = ""
    if cfg.markdown:
        raw_md, _ = html_to_markdown(tree)
        # citations are a regex post-pass over the raw markdown (reference
        # pipeline shape, mgs.py:82-146) — no second conversion
        if cfg.citations:
            cited_md, references_md = convert_links_to_citations(raw_md)

    fit_md = ""
    blocks = None
    if cfg.content_filter == "pruning":
        # in place on the cleaned tree; markdown above already captured
        blocks = PruningContentFilter(
            threshold=cfg.prune_threshold,
            min_word_threshold=cfg.prune_min_words,
        ).filter_blocks(tree)
    elif cfg.content_filter == "bm25":
        blocks = BM25ContentFilter(
            bm25_threshold=cfg.bm25_threshold, user_query=cfg.bm25_query
        ).filter_blocks(tree)
    if blocks is not None:
        # reference contract (markdown_generation_strategy.py:235-239):
        # each surviving block is <div>-wrapped; fit_markdown is the
        # markdown of that wrapped document. The reference's
        # markdown.fit_html (the filter's html, models.py:124) is not an
        # output column: the row's fit_html is CrawlResult.fit_html, the
        # schema-preprocessed RAW html (async_webcrawler.py:515,651).
        container = Node("#root")
        for b in blocks:
            d = Node("div")
            d.append(b)
            container.append(d)
        fit_md, _ = html_to_markdown(container)

    links = [
        {**l, "is_internal": True} for l in sr.links_internal
    ] + [{**l, "is_internal": False} for l in sr.links_external]

    return {
        "url": url,
        "success": True,
        "cleaned_html": sr.cleaned_html,
        "text": sr.text,
        "title": sr.title,
        "raw_markdown": raw_md,
        "markdown_with_citations": cited_md,
        "references_markdown": references_md,
        "fit_markdown": fit_md,
        "fit_html": fit_html,
        "links": links,
        "images": sr.images,
        "tables": sr.tables,
        "metadata": sr.metadata,
    }
