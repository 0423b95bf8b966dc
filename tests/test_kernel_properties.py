"""Property-based tests (hypothesis) for the frontier key.

The canonical URL is THE correctness-critical pure function: it keys the
seen set, the frontier dedup, and the politeness partitioning. These
properties must hold for ANY input, not just the fixture families:

  P1 idempotence    canon(canon(u)) == canon(u)  — re-canonicalizing a
                    frontier row can never produce a different key
  P2 normal form    outputs are http(s), lowercase host, no fragment, no
                    tracking params, no trailing slash on non-root paths
  P3 join safety    canonicalizing an arbitrary href against a canonical
                    base never crashes and yields None or a normal form
  P4 domain key     registrable_domain of a canonical url is lowercase,
                    port-free and www-free
"""

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from crawl4ai_custom_spark.kernel.urlnorm import (
    canonicalize_url,
    normalize_url,
    registrable_domain,
)

hosts = st.builds(
    lambda a, b, tld: f"{a}.{b}.{tld}",
    st.text("abcDEF09-", min_size=1, max_size=8),
    st.text("abcdef", min_size=1, max_size=6),
    st.sampled_from(["com", "org", "co.uk", "io"]),
)
paths = st.lists(
    st.text("abcDE09._-%", min_size=0, max_size=6), min_size=0, max_size=4
).map(lambda segs: "/" + "/".join(segs))
queries = st.lists(
    st.tuples(
        st.sampled_from(["a", "B", "utm_source", "gclid", "ref", "x9"]),
        st.text("abc123", max_size=4),
    ),
    max_size=4,
).map(lambda kvs: "&".join(f"{k}={v}" for k, v in kvs))
urls = st.builds(
    lambda scheme, host, port, path, q, frag: (
        f"{scheme}://{host}{port}{path}" + (f"?{q}" if q else "")
        + (f"#{frag}" if frag else "")
    ),
    st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    hosts,
    st.sampled_from(["", ":80", ":443", ":8080"]),
    paths,
    queries,
    st.text("abc", max_size=4),
)


def _assert_normal_form(c: str) -> None:
    scheme, rest = c.split("://", 1)
    assert scheme in ("http", "https")
    host = rest.split("/", 1)[0]
    assert host == host.lower()
    assert "#" not in c
    assert "@" not in host
    path_q = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    path = path_q.split("?", 1)[0]
    assert path == "/" or not path.endswith("/")
    if "?" in path_q:
        for kv in path_q.split("?", 1)[1].split("&"):
            k = kv.split("=", 1)[0].lower()
            assert k not in ("gclid", "ref") and not k.startswith("utm_")


@settings(max_examples=300, deadline=None)
@given(urls)
def test_canonicalize_idempotent_and_normal(u):
    c = canonicalize_url(u)
    if c is None:
        return
    _assert_normal_form(c)
    assert canonicalize_url(c) == c  # P1


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=40), urls)
def test_join_against_canonical_base_total(href, base):
    cbase = canonicalize_url(base)
    if cbase is None:
        return
    c = canonicalize_url(href, cbase)  # P3: must never raise
    if c is not None:
        _assert_normal_form(c)
        assert canonicalize_url(c) == c


@settings(max_examples=300, deadline=None)
@given(urls)
def test_normalize_is_canonical_and_sorted(u):
    n = normalize_url(u)
    if n is None:
        return
    _assert_normal_form(n)
    assert normalize_url(n) == n
    if "?" in n:
        keys = [kv.split("=", 1)[0] for kv in n.split("?", 1)[1].split("&")]
        assert keys == sorted(keys) and all(k == k.lower() for k in keys)


@settings(max_examples=300, deadline=None)
@given(urls)
def test_registrable_domain_is_partition_safe(u):
    c = canonicalize_url(u)
    if c is None:
        return
    d = registrable_domain(c)  # P4
    assert d == d.lower()
    assert ":" not in d and "/" not in d
    assert not d.startswith("www.")


# ---------------------------------------------------------------------------
# extraction totality: 100 TB of real crawl data contains every malformed
# byte sequence imaginable; the kernel must produce a row for ALL of them
# ---------------------------------------------------------------------------

html_ish = st.one_of(
    st.binary(max_size=400),
    st.text(max_size=300).map(lambda s: s.encode("utf-8", "ignore")),
    st.builds(
        lambda parts: b"".join(parts),
        st.lists(
            st.sampled_from([
                b"<html>", b"<head>", b"<title>t</title>", b"</head",
                b"<body>", b"<a href='", b"/x'>l</a>", b"<a href=>",
                b"<table><tr><td colspan='9'>", b"<img src=x srcset='a 1x,",
                b"<script>var a='</b>';</script>", b"<!--", b"-->",
                b"<p>text ", b"\xff\xfe\x00", b"</div></div></span>",
                b"<base href='ftp://b/'>", b"<meta charset='utf-8'",
                b"<pre><code>x", b"&amp;&bogus;&#x41;&#999999999;",
            ]),
            max_size=20,
        ),
    ),
)


@settings(max_examples=200, deadline=None)
@given(html_ish)
def test_extract_page_total_on_arbitrary_bytes(payload):
    from crawl4ai_custom_spark.kernel.extract import extract_page

    row = extract_page("https://f.example.com/x", payload)
    assert isinstance(row["success"], bool)
    assert isinstance(row["text"], str)
    assert isinstance(row["links"], list)
    for link in row["links"]:
        href = link["href"]
        assert href is None or href.startswith(("http://", "https://"))


def test_pdf_roundtrip_property():
    """build_simple_pdf -> pdf_text recovers every page's text exactly
    (modulo the parser's space join) for arbitrary printable content."""
    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    from crawl4ai_custom_spark.kernel.pdfmini import (
        build_simple_pdf,
        pdf_page_count,
        pdf_text,
    )

    printable = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        min_size=1, max_size=80,
    ).map(str.strip).filter(bool)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(printable, min_size=1, max_size=4))
    def check(pages):
        pdf = build_simple_pdf(pages)
        assert pdf_page_count(pdf) == len(pages)
        assert pdf_text(pdf) == " ".join(pages)

    check()


_clean_seg = st.text(alphabet="abcdefgh123", min_size=1, max_size=6)


@settings(max_examples=60, deadline=None)
@given(st.lists(_clean_seg, min_size=0, max_size=3), _clean_seg)
def test_canonicalize_is_identity_on_clean_urls(path_segs, host):
    """A url already in canonical form (lowercase host, no tracking params,
    credentials, port or non-root trailing slash) is its own frontier key."""
    url = f"https://{host}.com/" + "/".join(path_segs)
    assert canonicalize_url(url) == url


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.booleans(),
    st.sampled_from(["none", "cycle"]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_property(w, h, rgb, filter_mode, seed):
    """P: decode(encode(px)) == px for every shape/colortype/filter mix."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.imagecodec import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if rgb else (h, w)
    px = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px, filter_mode)), px)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=255),
                 min_size=1, max_size=6),
        min_size=1, max_size=5,
    ),
    st.integers(min_value=1, max_value=60),
)
def test_avi_mjpeg_roundtrip_property(frame_blocks, fps):
    """P: decode(encode(frames)) returns every frame's exact pixels for
    any frame count / block layout / fps (DC-only JPEG frames are
    lossless by construction; the container walk must not lose, reorder,
    or pad-corrupt any 00dc chunk — odd-length chunks exercise RIFF
    padding)."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.avimini import (
        decode_avi_mjpeg, encode_avi_mjpeg,
    )
    from crawl4ai_custom_spark.kernel.jpegmini import (
        encode_jpeg_flat_blocks,
    )

    frames, arrays = [], []
    for blocks in frame_blocks:
        arr = np.array(blocks, dtype=np.uint8).reshape(1, -1)
        arrays.append(np.kron(arr, np.ones((8, 8), np.uint8)))
        frames.append(encode_jpeg_flat_blocks(arr))
    avi = encode_avi_mjpeg(frames, arrays[0].shape[1], 8, fps=fps)
    out = decode_avi_mjpeg(avi)
    assert len(out) == len(arrays)
    for got, want in zip(out, arrays):
        assert np.array_equal(got, want)


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.tuples(
        st.text(st.characters(codec="utf-8",
                              blacklist_characters="\r\n"),
                min_size=0, max_size=60),
        st.sampled_from(["response", "warcinfo", "request"]),
    ),
    min_size=0, max_size=6,
))
def test_warc_roundtrip_property(records):
    """P: parsing a well-formed blob of N records yields exactly those N
    records with byte-exact payloads (utf-8, Content-Length in bytes)."""
    from crawl4ai_custom_spark.sources.warc import _parse_blob

    blob = b""
    for i, (body, wtype) in enumerate(records):
        b = body.encode("utf-8")
        blob += (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
            f"WARC-Target-URI: https://x.test/{i}\r\n"
            f"Content-Length: {len(b)}\r\n\r\n"
        ).encode() + b + b"\r\n\r\n"
    out = _parse_blob(blob)
    assert len(out) == len(records)
    for i, ((body, wtype), rec) in enumerate(zip(records, out)):
        assert rec["payload"] == body
        assert rec["warc_type"] == wtype
        assert rec["target_uri"] == f"https://x.test/{i}"
        assert rec["record_index"] == i


# ---------------------------------------------------------------------------
# markdown emitter totality + invariants (the event machine must survive
# every token soup the parser can produce, and its citation post-pass must
# never lose non-link text)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(html_ish)
def test_markdown_total_on_arbitrary_soup(payload):
    from crawl4ai_custom_spark.kernel.markdown import (
        convert_links_to_citations,
        html_to_markdown,
    )

    md, _ = html_to_markdown(payload.decode("utf-8", "replace"))
    assert isinstance(md, str)
    # (no trailing-newline invariant: a doc ending inside an unclosed
    # <head>/<script> suppresses the final flush — reference parity,
    # verified byte-identical on the falsifying example)
    cited, refs = convert_links_to_citations(md)
    assert isinstance(cited, str) and isinstance(refs, str)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_citations_preserve_nonlink_text(s):
    """Text without markdown links passes through the citation pass
    byte-for-byte."""
    from crawl4ai_custom_spark.kernel.markdown import (
        _MD_LINK,
        convert_links_to_citations,
    )

    assume(not _MD_LINK.search(s))
    cited, refs = convert_links_to_citations(s)
    assert cited == s
    assert "⟨" not in refs.replace("## References", "")


# ---------------------------------------------------------------------------
# JPEG codec: flat-block encode/decode is exact for EVERY block matrix;
# the decoder never crashes on truncated streams
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 4), st.integers(1, 4),
    st.integers(0, 2**31 - 1),
)
def test_jpeg_flat_blocks_roundtrip_property(by, bx, seed):
    import numpy as np

    from crawl4ai_custom_spark.kernel.jpegmini import (
        decode_jpeg,
        encode_jpeg_flat_blocks,
    )

    rng = np.random.default_rng(seed)
    blocks = rng.integers(0, 256, size=(by, bx)).astype(np.uint8)
    img = decode_jpeg(encode_jpeg_flat_blocks(blocks))
    assert img.shape == (by * 8, bx * 8)
    assert np.array_equal(img, np.kron(blocks, np.ones((8, 8), np.uint8)))


@settings(max_examples=100, deadline=None)
@given(st.integers(20, 300), st.integers(0, 2**31 - 1))
def test_jpeg_decode_never_crashes_on_truncation(cut, seed):
    import struct

    import numpy as np

    from crawl4ai_custom_spark.kernel.jpegmini import (
        decode_jpeg,
        encode_jpeg_flat_blocks,
    )

    rng = np.random.default_rng(seed)
    data = encode_jpeg_flat_blocks(
        rng.integers(0, 256, size=(2, 2)).astype(np.uint8)
    )[:cut]
    try:
        decode_jpeg(data)
    except (ValueError, NotImplementedError, EOFError, KeyError,
            IndexError, struct.error):
        pass  # any CLEAN exception is fine; crashes/hangs are not
