"""Every top-level def/class of the package has a caller outside tests.

AST only (no Spark, no imports of the package). A symbol counts as used
when something other than its own body refers to it:
  * inside its defining module, by name;
  * from another scanned file, by a ``from <module> import <name>`` or by
    ``<alias>.<name>`` where ``<alias>`` is that module imported as an
    object (``from ..kernel import hfs`` + ``hfs.delete``).
Scanned: the package, ``__spark_entry__.py``, ``bench*.py``, ``jobs/``,
``scripts/`` and ``perfbench/``. Tests do not count as callers.

``KEEP`` lists the deliberate exceptions, each with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "crawl4ai_custom_spark"

_STREAM = "README-documented streaming surface (COVERAGE §2.11)"
_SKETCH = "README-documented sketches surface (DDSketch, bootstrap)"
_CHUNK = "reference chunking strategy (COVERAGE chunking row), one implementation"
KEEP: dict[str, str] = {
    "api.WebCrawler": "entry-point parity surface (COVERAGE)",
    "crawlers.serp_schemas": "README-documented SERP preset pack",
    "crawlers.serp_extract": "README-documented SERP extraction",
    "kernel.jpegmini.encode_jpeg_gray": "the JPEG decoder test's data generator; moving it into tests removes no code",
    "kernel.robotstxt.can_fetch": "one-call form of parse_robots(...).can_fetch that the robots.txt kernel tests drive",
    "kernel.markdown.generate_markdown": "the kernel's one-call markdown bundle the kernel markdown tests drive; extract.py inlines the same two calls per field",
    "operators.bpe.train_unigram": "README-documented tokenizer training family",
    "operators.bpe.train_wordpiece": "README-documented WordPiece",
    "operators.bpe.wordpiece_encode": "README-documented WordPiece",
    "operators.chunking.regex_chunks": _CHUNK,
    "operators.chunking.identity_chunks": _CHUNK,
    "operators.chunking.char_window_chunks": _CHUNK,
    "operators.dedup.cdc_dedup_stats": "store accounting half of the content-defined chunking capability (COVERAGE), no second implementation",
    "operators.dust.apply_dust_rules": "applies the rules q_dust_rules mines (dust_param_rules); no second implementation",
    "operators.linkgraph.host_edges": "builds pagerank's host graph from a links table (COVERAGE host-graph row)",
    "operators.linkgraph.pagerank_authority": "README-documented pagerank -> CrawlConfig.domain_authority wiring",
    "operators.pdf.extract_pdf": "the operator over real PDF payloads; q_pdf_extract shares its row builder pdf_rows",
    "operators.recrawl.sitemap_revisit_candidates": "sitemap lastmod re-crawl signal (COVERAGE), no second implementation",
    "operators.sketches.hll_error_bound": "the HLL sketch's accuracy bound, the one its test asserts against",
    "operators.sketches.cms_merge": "README-documented mergeable count-min sketch: its merge",
    "operators.sketches.ddsketch_merge": _SKETCH,
    "operators.sketches.ddsketch_collapse": _SKETCH,
    "operators.sketches.bootstrap_mean_ci": _SKETCH,
    "sources.sitemap.decompress_sitemaps": "the .gz sitemap stage (COVERAGE sitemap row), no second implementation",
    "state.backend.IcebergBackend": "documents the production snapshot mapping (COVERAGE state row)",
    "streaming.emission.follow_results": _STREAM,
    "streaming.ingest.read_docs_stream": _STREAM,
    "streaming.ingest.stream_ingest_dedup": "README-documented streaming ingest dedup (COVERAGE §2.11)",
    "streaming.structured.read_events_stream": _STREAM,
    "streaming.structured.stream_events_hourly": _STREAM,
    "streaming.structured.stream_sessionize": _STREAM,
    "streaming.structured.run_available_now": _STREAM,
    "streaming.structured.read_pages_stream": _STREAM,
    "streaming.structured.stream_extract_pages": _STREAM,
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve(mod: str, path: Path, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    if path.name != "__init__.py":
        base.pop()
    base = base[: len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _scan_files() -> list[Path]:
    files = sorted((ROOT / PKG).rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    files += sorted(ROOT.glob("bench*.py"))
    for d in ("jobs", "scripts", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def unreferenced() -> set[str]:
    defs: dict[str, dict[str, tuple[int, int]]] = {}   # module -> name -> span
    used: set[tuple[str, str]] = set()                 # (module, name)
    for path in _scan_files():
        mod = _module_name(path)
        tree = ast.parse(path.read_text(), str(path))
        if mod.startswith(PKG):
            defs[mod] = {
                n.name: (n.lineno, n.end_lineno) for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
            }
        aliases: dict[str, str] = {}                   # local name -> module
        attrs: list[ast.Attribute] = []
        spans = defs.get(mod, {})
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                attrs.append(node)
            elif isinstance(node, ast.Name):
                if node.id in spans:
                    lo, hi = spans[node.id]
                    if not lo <= node.lineno <= hi:
                        used.add((mod, node.id))
            elif isinstance(node, ast.ImportFrom):
                src = _resolve(mod, path, node)
                for a in node.names:
                    used.add((src, a.name))
                    aliases[a.asname or a.name] = f"{src}.{a.name}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    aliases[a.asname or a.name] = a.name
        for node in attrs:
            if isinstance(node.value, ast.Name) and node.value.id in aliases:
                used.add((aliases[node.value.id], node.attr))
    return {
        f"{mod[len(PKG) + 1:]}.{name}"
        for mod, names in defs.items() for name in names
        if (mod, name) not in used
    }


def test_every_package_symbol_has_a_non_test_caller():
    dead = unreferenced()
    assert not dead - KEEP.keys(), sorted(dead - KEEP.keys())
    # a kept symbol that gained a caller, or no longer exists, leaves KEEP
    assert not KEEP.keys() - dead, sorted(KEEP.keys() - dead)
