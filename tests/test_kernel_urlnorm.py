"""URL canonicalization unit tests (FIXTURES.md F5 family)."""

from crawl4ai_custom_spark.kernel.urlnorm import (
    canonicalize_url,
    is_external_url,
    normalize_url,
    registrable_domain,
)

BASE = "https://example.com/dir/page.html"


def test_relative_join():
    assert canonicalize_url("other.html", BASE) == "https://example.com/dir/other.html"
    assert canonicalize_url("../up.html", BASE) == "https://example.com/up.html"
    assert canonicalize_url("/root.html", BASE) == "https://example.com/root.html"


def test_protocol_relative_and_absolute():
    assert canonicalize_url("//cdn.example.com/a", BASE) == "https://cdn.example.com/a"
    assert canonicalize_url("http://Other.COM/X", BASE) == "http://other.com/X"


def test_fragment_dropped():
    assert canonicalize_url("page2.html#sec", BASE) == "https://example.com/dir/page2.html"
    assert canonicalize_url("#frag", BASE) is None


def test_tracking_params_dropped_order_kept():
    u = canonicalize_url("/p?b=2&utm_source=x&a=1&fbclid=zz&gclid=1", BASE)
    assert u == "https://example.com/p?b=2&a=1"


def test_normalize_sorts_and_lowercases_query_keys():
    u = normalize_url("/p?B=2&a=1&ref=x", BASE)
    assert u == "https://example.com/p?a=1&b=2"


def test_trailing_slash():
    assert canonicalize_url("https://example.com/a/") == "https://example.com/a"
    assert canonicalize_url("https://example.com/") == "https://example.com/"
    assert canonicalize_url("https://example.com") == "https://example.com/"


def test_default_port_and_credentials():
    assert canonicalize_url("https://example.com:443/a") == "https://example.com/a"
    assert canonicalize_url("http://example.com:80/a") == "http://example.com/a"
    assert canonicalize_url("http://example.com:8080/a") == "http://example.com:8080/a"
    assert canonicalize_url("https://user:pw@example.com/a") == "https://example.com/a"


def test_skip_schemes():
    for href in ("mailto:a@b.com", "javascript:void(0)", "tel:+123", "data:text/html,x"):
        assert canonicalize_url(href, BASE) is None


def test_invalid():
    assert canonicalize_url("", BASE) is None
    assert canonicalize_url(None, BASE) is None
    assert canonicalize_url("https://nodots/a") is None


def test_registrable_domain():
    assert registrable_domain("https://www.example.com/x") == "example.com"
    assert registrable_domain("https://a.b.example.co.uk/x") == "example.co.uk"
    assert registrable_domain("sub.deep.example.org") == "example.org"
    assert registrable_domain("https://example.com:8080/") == "example.com"


def test_is_external():
    assert not is_external_url("https://sub.example.com/a", "https://example.com/")
    assert is_external_url("https://other.com/a", "https://example.com/")
    assert is_external_url("mailto:x@y.com", "https://example.com/")
