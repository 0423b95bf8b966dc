"""HTML scraping: cleaned HTML, links, media, metadata, tables.

Capability parity with the reference's ``LXMLWebScrapingStrategy``
(/root/reference/crawl4ai/content_scraping_strategy.py:101-900) re-expressed
on our stdlib DOM (htmldom.py):

  parse -> head metadata -> link walk (base-href override, first-wins dedup,
  internal/external split) -> media walk (img scoring, srcset variants,
  video/audio sources) -> table walk (data-vs-layout scoring, colspan
  expansion) -> structural cleanup (remove script/style/comments/excluded
  tags, drop empty elements bottom-up, strip attrs to a keep-list) ->
  deterministic serialization.

Everything is pure-functional: ``scrap(url, html, config) -> ScrapeResult``.
The Spark layer maps this over Arrow batches (operators/extraction.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .htmldom import Comment, Node, body_of, parse_html
from .urlnorm import canonicalize_url, is_external_url, registrable_domain

REMOVE_TAGS = frozenset("script style noscript template iframe svg canvas".split())
DEFAULT_EXCLUDED_TAGS = frozenset(())  # opt-in: nav/footer/aside/form/header
IMPORTANT_ATTRS = frozenset(
    "src href alt title width height srcset colspan rowspan".split()
)
SOCIAL_MEDIA_DOMAINS = frozenset(
    """facebook.com twitter.com x.com instagram.com linkedin.com youtube.com
    tiktok.com pinterest.com reddit.com snapchat.com whatsapp.com t.me
    weibo.com vk.com""".split()
)

_IMG_FORMAT_SCORES = {"avif": 4, "webp": 3, "png": 2, "jpg": 2, "jpeg": 2, "gif": 1}


@dataclass
class ScrapeConfig:
    excluded_tags: frozenset[str] = DEFAULT_EXCLUDED_TAGS
    remove_forms: bool = False
    keep_data_attrs: bool = False
    exclude_external_links: bool = False
    exclude_internal_links: bool = False
    exclude_social_media_links: bool = False
    exclude_domains: frozenset[str] = frozenset()
    min_word_threshold: int = 1          # empty-element removal bar
    image_score_threshold: int = 2
    table_score_threshold: int = 7
    only_text: bool = False


@dataclass
class ScrapeResult:
    url: str
    success: bool
    cleaned_html: str = ""
    text: str = ""
    title: str = ""
    links_internal: list[dict] = field(default_factory=list)
    links_external: list[dict] = field(default_factory=list)
    images: list[dict] = field(default_factory=list)
    videos: list[dict] = field(default_factory=list)
    audios: list[dict] = field(default_factory=list)
    tables: list[dict] = field(default_factory=list)
    metadata: dict[str, str] = field(default_factory=dict)
    # the cleaned DOM itself, so downstream stages (markdown, content
    # filters) never re-parse cleaned_html — one parse per page total
    body_node: Node | None = field(default=None, repr=False, compare=False)


# --------------------------------------------------------------------------
# metadata
# --------------------------------------------------------------------------

def extract_metadata(root: Node) -> dict[str, str]:
    """title + meta[name|property]→content, og:/twitter: included."""
    meta: dict[str, str] = {}
    head = root.find("head") or root
    title = head.find("title")
    if title is not None:
        meta["title"] = title.text()
    for m in head.iter("meta"):
        key = m.get("name") or m.get("property")
        content = m.get("content")
        if key and content is not None:
            meta[key.lower()] = content
    base = root.find("base")
    if base is not None and base.get("href"):
        meta["base-href"] = base.get("href")
    return meta


# --------------------------------------------------------------------------
# links
# --------------------------------------------------------------------------

def extract_links(
    root: Node, url: str, cfg: ScrapeConfig, base_href: str | None = None,
    rewritten: bool = False,
) -> tuple[list[dict], list[dict]]:
    base = canonicalize_url(base_href, url) if base_href else url
    internal: list[dict] = []
    external: list[dict] = []
    seen: set[str] = set()
    for a in root.iter("a"):
        href = a.get("href")
        # after rewrite_urls the href IS canonical (or absent) — skip urljoin
        canon = href if rewritten else canonicalize_url(href, base or url)
        if canon is None or canon in seen:
            continue
        seen.add(canon)
        dom = registrable_domain(canon)
        ext = is_external_url(canon, url)
        if ext:
            if cfg.exclude_external_links:
                continue
            if cfg.exclude_social_media_links and dom in SOCIAL_MEDIA_DOMAINS:
                continue
        elif cfg.exclude_internal_links:
            continue
        if dom in cfg.exclude_domains:
            continue
        link = {
            "href": canon,
            "text": a.text()[:200],
            "title": a.get("title") or "",
            "base_domain": dom,
        }
        (external if ext else internal).append(link)
    return internal, external


# --------------------------------------------------------------------------
# media
# --------------------------------------------------------------------------

def _score_image(img: Node, index: int, total: int) -> int:
    """Heuristic 0..6 image relevance score (size/alt/position/format),
    mirroring the reference's scoring dimensions
    (/root/reference/crawl4ai/content_scraping_strategy.py:313-359)."""
    score = 0
    try:
        w = int((img.get("width") or "0").rstrip("px") or 0)
        h = int((img.get("height") or "0").rstrip("px") or 0)
    except ValueError:
        w = h = 0
    if w > 150 or h > 150:
        score += 2
    if (img.get("alt") or "").strip():
        score += 1
    if total and index < total / 2:
        score += 1
    src = (img.get("src") or "").lower()
    ext = src.rsplit(".", 1)[-1].split("?")[0] if "." in src else ""
    score += min(2, _IMG_FORMAT_SCORES.get(ext, 0) // 2)
    if img.get("srcset"):
        score += 1
    return score


def extract_media(root: Node, url: str, cfg: ScrapeConfig, rewritten: bool = False):
    def canon(u: str) -> str:
        return u if rewritten else (canonicalize_url(u, url) or u)

    images: list[dict] = []
    imgs = root.iter("img")
    for i, img in enumerate(imgs):
        src = img.get("src") or img.get("data-src") or ""
        if src.startswith("data:"):  # strip base64 payloads
            continue
        score = _score_image(img, i, len(imgs))
        if score < cfg.image_score_threshold:
            continue
        variants = []
        srcset = img.get("srcset") or img.get("data-srcset") or ""
        for part in srcset.split(","):
            cand = part.strip().split(" ")[0]
            if cand:
                variants.append(canon(cand))
        images.append(
            {
                "src": canon(src),
                "alt": img.get("alt") or "",
                "desc": _closest_text(img),
                "score": score,
                "format": (src.rsplit(".", 1)[-1].split("?")[0] if "." in src else ""),
                "variants": variants,
            }
        )
    videos, audios = [], []
    for tag, acc in (("video", videos), ("audio", audios)):
        for el in root.iter(tag):
            srcs = [el.get("src")] if el.get("src") else []
            srcs += [s.get("src") for s in el.iter("source") if s.get("src")]
            acc.append(
                {
                    "src": canon(srcs[0]) if srcs else "",
                    "sources": [canon(s) for s in srcs],
                    "desc": _closest_text(el),
                }
            )
    return images, videos, audios


def _closest_text(node: Node, max_len: int = 120) -> str:
    p = node.parent
    for _ in range(3):
        if p is None:
            break
        t = p.text()
        if t:
            return t[:max_len]
        p = p.parent
    return ""


# --------------------------------------------------------------------------
# tables
# --------------------------------------------------------------------------

def score_table(t: Node) -> int:
    """Data-vs-layout score, same signal family as the reference's
    DefaultTableExtraction (/root/reference/crawl4ai/table_extraction.py:132-211):
    thead/tbody/th presence, role=presentation penalty, nested tables penalty,
    column-count consistency, caption/summary, size."""
    score = 0
    if t.find("thead") is not None:
        score += 2
    if t.find("tbody") is not None:
        score += 1
    if t.find("th") is not None:
        score += 2
    if (t.get("role") or "").lower() == "presentation":
        score -= 3
    if t.find("table") is not None:
        score -= 2
    if t.find("caption") is not None or t.get("summary"):
        score += 2
    rows = t.iter("tr")
    if len(rows) >= 2:
        score += 2
        widths = {len(r.iter("td")) + len(r.iter("th")) for r in rows}
        if len(widths) == 1:
            score += 2  # perfectly regular
        elif len(widths) <= 2:
            score += 1
    cells = t.iter("td")
    if cells:
        avg = sum(len(c.text()) for c in cells) / len(cells)
        if avg > 2:
            score += 1
    return score


def extract_table(t: Node) -> dict:
    def cells_of(tr: Node) -> list[tuple[str, int]]:
        out = []
        for c in tr.children:
            if isinstance(c, Node) and c.tag in ("td", "th"):
                try:
                    span = max(1, int(c.get("colspan") or 1))
                except ValueError:
                    span = 1
                out.append((c.text(), span))
        return out

    def expand(row: list[tuple[str, int]]) -> list[str]:
        flat: list[str] = []
        for text, span in row:
            flat.append(text)
            flat.extend("" for _ in range(span - 1))
        return flat

    header: list[str] = []
    body_rows: list[list[str]] = []
    thead = t.find("thead")
    trs = t.iter("tr")
    for tr in trs:
        in_head = thead is not None and any(a is thead for a in _ancestors(tr))
        has_th = any(isinstance(c, Node) and c.tag == "th" for c in tr.children)
        row = expand(cells_of(tr))
        if not row:
            continue
        if (in_head or (thead is None and has_th)) and not header:
            header = row
        else:
            body_rows.append(row)
    width = len(header) or (max((len(r) for r in body_rows), default=0))
    if not header:
        header = [f"col_{i}" for i in range(width)]
    body_rows = [(r + [""] * width)[:width] for r in body_rows]
    cap = t.find("caption")
    return {
        "headers": header,
        "rows": body_rows,
        "caption": cap.text() if cap is not None else "",
        "summary": t.get("summary") or "",
    }


def _ancestors(n: Node):
    p = n.parent
    while p is not None:
        yield p
        p = p.parent


# --------------------------------------------------------------------------
# structural cleanup
# --------------------------------------------------------------------------

_MEDIA_KEEP = frozenset("img video audio picture source table".split())


def rewrite_urls(root: Node, url: str, base_href: str | None = None) -> None:
    """Rewrite a[href] / img[src|srcset] to canonical absolute URLs so the
    cleaned HTML (and the markdown generated from it) carries frontier-keyed
    links. Non-crawlable hrefs (mailto:, #fragment, javascript:) lose their
    href — the anchor text survives as plain text."""
    base = (canonicalize_url(base_href, url) if base_href else url) or url
    memo: dict[str, str | None] = {}
    # pre-split the base once: root-relative hrefs ('/x', the dominant form)
    # resolve by concatenation instead of a full urljoin per unique href
    from urllib.parse import urlsplit as _us

    _b = _us(base)
    _prefix = f"{_b.scheme}://{_b.netloc}"

    def canon(href: str) -> str | None:
        got = memo.get(href, False)
        if got is False:
            if href.startswith("/") and not href.startswith("//"):
                got = canonicalize_url(_prefix + href)
            else:
                got = canonicalize_url(href, base)
            memo[href] = got
        return got

    for a in root.iter("a"):
        c = canon(a.get("href") or "")
        if c is None:
            a.attrs.pop("href", None)
        else:
            a.attrs["href"] = c
    for img in root.iter("img"):
        for key in ("src", "data-src"):
            v = img.get(key)
            if v and not v.startswith("data:"):
                img.attrs[key] = canon(v) or v
        srcset = img.get("srcset")
        if srcset:
            parts = []
            for cand in srcset.split(","):
                bits = cand.strip().split(" ", 1)
                if bits and bits[0]:
                    bits[0] = canon(bits[0]) or bits[0]
                    parts.append(" ".join(bits))
            img.attrs["srcset"] = ", ".join(parts)
    for tag in ("video", "audio", "source"):
        for el in root.iter(tag):
            v = el.get("src")
            if v and not v.startswith("data:"):
                el.attrs["src"] = canon(v) or v


def cleanup_tree(
    root: Node,
    remove: frozenset[str],
    min_words: int = 1,
    keep_data: bool = False,
) -> int:
    """Single post-order pass fusing comment removal, tag removal, empty-
    element pruning (bottom-up word counts — no repeated text() walks) and
    attribute stripping. Returns the subtree word count."""
    kept: list[object] = []
    words = 0
    for c in root.children:
        if isinstance(c, Comment):
            continue
        if isinstance(c, str):
            words += len(c.split())
            kept.append(c)
            continue
        if c.tag in remove:
            continue
        w = cleanup_tree(c, remove, min_words, keep_data)
        has_elem_child = any(isinstance(g, Node) for g in c.children)
        if (
            c.tag in _MEDIA_KEEP
            or c.tag in ("br", "hr")
            or has_elem_child
            or w >= min_words
        ):
            kept.append(c)
            words += w
    root.children = kept
    root.attrs = {
        k: v
        for k, v in root.attrs.items()
        if k in IMPORTANT_ATTRS
        or (keep_data and k.startswith("data-"))
        or (k == "class" and root.tag == "code" and v.startswith("language-"))
    }
    return words


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------

def scrap(url: str, html: str | bytes | Node,
          cfg: ScrapeConfig | None = None) -> ScrapeResult:
    """``html`` may be a pre-parsed Node (extract_page shares one parse
    between this and the fit_html producer); the tree is then OWNED and
    mutated by the scrape cleanup."""
    cfg = cfg or ScrapeConfig()
    try:
        root = html if isinstance(html, Node) else parse_html(html)
    except Exception:
        return ScrapeResult(url=url, success=False)
    meta = extract_metadata(root)
    base_href = meta.pop("base-href", None)

    body = body_of(root)
    # canonicalize every href/src ONCE in the tree, then link/media walks
    # read the rewritten values (no second urljoin pass)
    rewrite_urls(body, url, base_href)
    links_int, links_ext = extract_links(body, url, cfg, rewritten=True)
    images, videos, audios = extract_media(body, url, cfg, rewritten=True)

    excl = set(REMOVE_TAGS) | set(cfg.excluded_tags)
    if cfg.remove_forms:
        excl.add("form")

    tables = [
        extract_table(t)
        for t in body.iter("table")
        if not any(a.tag in excl for a in _ancestors(t))
        and score_table(t) >= cfg.table_score_threshold
    ]

    cleanup_tree(body, frozenset(excl), cfg.min_word_threshold, cfg.keep_data_attrs)

    cleaned = body.inner_html() if body.tag == "body" else body.to_html()
    return ScrapeResult(
        url=url,
        success=True,
        cleaned_html=cleaned,
        body_node=body,
        text=body.text(),
        title=meta.get("title", ""),
        links_internal=links_int,
        links_external=links_ext,
        images=images,
        videos=videos,
        audios=audios,
        tables=tables,
        metadata=meta,
    )
