"""URL canonicalization — the frontier key.

These functions define the URL-seen set and crawl ordering, so they must be
pure and deterministic. Semantics reproduce the reference's behavior
(capability parity, not code):

- ``canonicalize_url``    ~ reference ``normalize_url_for_deep_crawl``
  (/root/reference/crawl4ai/utils.py:2324-2380): urljoin against the base,
  lowercase scheme+netloc, strip fragment, drop tracking params, strip
  trailing slash on non-root paths.
- ``normalize_url``       ~ reference ``normalize_url``
  (/root/reference/crawl4ai/utils.py:2223-2321): additionally sorts query
  parameters and lowercases query keys.
- ``registrable_domain``  ~ reference ``get_base_domain``
  (/root/reference/crawl4ai/utils.py:2458-2506): crude public-suffix
  handling (last two labels, or last three when the second-level label is a
  well-known registrar label like ``co``/``com`` under a 2-letter ccTLD).
- ``is_external_url``     ~ /root/reference/crawl4ai/utils.py:2509-2540.

All are plain scalar functions; the Spark layer wraps them in vectorized
pandas UDFs (operators/urlops.py) and always drops duplicate URLs *before*
invoking the UDF (dedup-before-expensive-UDF rule).
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

# Tracking query parameters dropped during canonicalization.
TRACKING_PARAMS = frozenset(
    {
        "utm_source",
        "utm_medium",
        "utm_campaign",
        "utm_term",
        "utm_content",
        "gclid",
        "fbclid",
        "ref",
        "ref_src",
    }
)

# Schemes that can never enter the frontier.
_SKIP_SCHEMES = (
    "mailto:",
    "javascript:",
    "tel:",
    "ftp:",
    "file:",
    "data:",
    "about:",
)

# Registrar-level second labels under 2-letter ccTLDs (crude PSL subset).
_SECOND_LEVEL = frozenset(
    {"co", "com", "org", "net", "ac", "gov", "edu", "or", "ne", "mil"}
)

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def is_crawlable_href(href: str) -> bool:
    """True when the href can become a frontier URL at all."""
    if not href:
        return False
    h = href.strip().lower()
    if h.startswith("#"):
        return False
    return not any(h.startswith(s) for s in _SKIP_SCHEMES)


def _clean_netloc(netloc: str, scheme: str) -> str:
    netloc = netloc.lower()
    if "@" in netloc:  # strip credentials
        netloc = netloc.rsplit("@", 1)[1]
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        if port == _DEFAULT_PORTS.get(scheme, ""):
            netloc = host
    return netloc


def canonicalize_url(href: str, base_url: str | None = None) -> str | None:
    """Frontier canonical form. Returns None for non-crawlable hrefs.

    Steps: resolve relative href against base; require http(s) + a dotted
    host; lowercase scheme and netloc; drop default port and credentials;
    drop the fragment; remove tracking params (order of survivors kept);
    strip a trailing '/' from non-root paths.
    """
    if href is None or not is_crawlable_href(href):
        return None
    href = href.strip()
    if base_url and href.startswith(("http://", "https://")):
        base_url = None  # already absolute: urljoin would be an identity
    try:
        absu = urljoin(base_url, href) if base_url else href
        scheme, netloc, path, query, _frag = urlsplit(absu)
    except ValueError:
        return None
    scheme = scheme.lower()
    if scheme not in ("http", "https") or not netloc:
        return None
    netloc = _clean_netloc(netloc, scheme)
    if "." not in netloc:
        return None
    if query:
        kept = [
            (k, v)
            for k, v in parse_qsl(query, keep_blank_values=True)
            if k.lower() not in TRACKING_PARAMS and not k.lower().startswith("utm_")
        ]
        query = urlencode(kept)
    # Idempotence: trailing whitespace-class chars in the path were protected
    # from the entry strip() by the (now-dropped) fragment/query; interleave
    # whitespace- and slash-stripping until a fixed point, so canonical output
    # re-canonicalizes to itself (frontier-key invariant).
    while True:
        stripped = path.rstrip()
        if stripped.endswith("/") and stripped != "/":
            stripped = stripped.rstrip("/")
        if stripped == path:
            break
        path = stripped
    if not path:
        path = "/"
    return urlunsplit((scheme, netloc, path, query, ""))


def normalize_url(href: str, base_url: str | None = None) -> str | None:
    """Stricter normal form: canonicalize + lowercase query keys + sort query."""
    canon = canonicalize_url(href, base_url)
    if canon is None:
        return None
    scheme, netloc, path, query, _ = urlsplit(canon)
    if query:
        pairs = sorted(
            (k.lower(), v) for k, v in parse_qsl(query, keep_blank_values=True)
        )
        query = urlencode(pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


def host_of(url: str) -> str:
    """Lowercased host with port and credentials stripped ('' when invalid)."""
    try:
        netloc = urlsplit(url).netloc
    except ValueError:
        return ""
    if "@" in netloc:
        netloc = netloc.rsplit("@", 1)[1]
    return netloc.rpartition(":")[0].lower() if ":" in netloc else netloc.lower()


def registrable_domain(url_or_host: str) -> str:
    """Politeness / partition key: the registered domain of the host."""
    host = url_or_host
    if "://" in host or host.startswith("//"):
        host = host_of(host)
    host = host.lower().strip()
    if host.startswith("www."):
        host = host[4:]
    if not host or "." not in host:
        return host
    labels = host.split(".")
    if len(labels) >= 3 and len(labels[-1]) == 2 and labels[-2] in _SECOND_LEVEL:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def is_external_url(url: str, base_url: str) -> bool:
    """True when url's registrable domain differs from base_url's."""
    if not url:
        return False
    low = url.strip().lower()
    if any(low.startswith(s) for s in _SKIP_SCHEMES):
        return True
    d1 = registrable_domain(url)
    d2 = registrable_domain(base_url)
    if not d1 or not d2:
        return False
    return d1 != d2
