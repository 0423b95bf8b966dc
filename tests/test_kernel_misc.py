"""Unit tests: textproc stable hash, content-filter tokens and BM25, bloom
filter, robots.txt matcher."""

import math

import numpy as np
import pytest

from crawl4ai_custom_spark.kernel.bloom import BloomFilter, optimal_params
from crawl4ai_custom_spark.kernel.content_filter import (
    BM25Okapi,
    ref_clean_tokens,
)
from crawl4ai_custom_spark.kernel.robotstxt import can_fetch, parse_robots
from crawl4ai_custom_spark.kernel.textproc import stable_hash64


def test_stable_hash64_is_60bit_positive_and_stable():
    h = stable_hash64("https://example.com/")
    assert 0 <= h < (1 << 60)
    assert h == stable_hash64("https://example.com/")


def test_bloom_basic_membership():
    bf = BloomFilter(capacity=10_000, fp_rate=0.01)
    keys = np.arange(1, 5001, dtype=np.uint64) * np.uint64(2654435761)
    bf.add_many(keys)
    assert bf.contains_many(keys).all()
    other = np.arange(10_001, 12_001, dtype=np.uint64) * np.uint64(1099511628211)
    fp = bf.contains_many(other).mean()
    assert fp < 0.05  # ~1% design FP with slack
    est = bf.cardinality_estimate()
    assert 4000 < est < 6200


def test_bloom_roundtrip_bytes():
    bf = BloomFilter(capacity=1000, fp_rate=0.01)
    keys = np.array([123456789, 987654321], dtype=np.uint64)
    bf.add_many(keys)
    bf2 = BloomFilter(capacity=1000, fp_rate=0.01, bits=np.frombuffer(bf.to_bytes(), dtype=np.uint8))
    assert bf2.contains_many(keys).all()


def test_optimal_params_monotone():
    m1, _ = optimal_params(1000, 0.01)
    m2, _ = optimal_params(1000, 0.001)
    assert m2 > m1


def _random_keys(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 63, size=n, dtype=np.int64).astype(np.uint64)


def test_bloom_fp_rate_on_random_keys_at_capacity():
    bf = BloomFilter(capacity=20_000, fp_rate=0.01)
    keys = _random_keys(20_000, 1)
    bf.add_many(keys)
    assert bf.contains_many(keys).all()  # zero false negatives
    fp = bf.contains_many(_random_keys(20_000, 2)).mean()
    assert fp < 0.02, fp  # design rate 1% at full capacity
    assert 18_000 < bf.cardinality_estimate() < 22_000


def test_bloom_overfilled_never_false_negative():
    """A partition's seen set can outgrow the filter's capacity: membership
    then degrades only in the false-positive direction."""
    bf = BloomFilter(capacity=256, fp_rate=0.01)
    keys = _random_keys(4 * 256, 3)
    bf.add_many(keys)
    assert bf.contains_many(keys).all()
    fp = bf.contains_many(_random_keys(4_096, 4)).mean()
    assert 0.05 < fp < 1.0, fp


def test_bloom_fold_is_order_and_batch_free():
    """Folding hashes batch by batch (one add per wave) and building once
    from the whole set (retire_seen's rebuild) give the same bits."""
    keys = _random_keys(5_000, 5)
    whole = BloomFilter(capacity=5_000, fp_rate=0.01)
    whole.add_many(keys)
    folded = BloomFilter(capacity=5_000, fp_rate=0.01)
    perm = np.random.default_rng(6).permutation(len(keys))
    for batch in np.array_split(keys[perm], 7):
        folded.add_many(batch)
    folded.add_many(keys[:0])  # a wave with no new hashes
    assert folded.to_bytes() == whole.to_bytes()
    back = BloomFilter(capacity=5_000, fp_rate=0.01, bits=whole.to_bytes())
    assert (back.m, back.k) == (whole.m, whole.k)
    assert back.to_bytes() == whole.to_bytes()


def test_bloom_readding_keys_changes_no_bit():
    """A resumed or re-crawled url's hash is folded again: the bits (and
    so the cardinality estimate) stay as they were."""
    keys = _random_keys(3_000, 7)
    bf = BloomFilter(capacity=5_000, fp_rate=0.01)
    bf.add_many(keys)
    before = bf.to_bytes()
    bf.add_many(keys[::3])
    assert bf.to_bytes() == before
    assert 2_700 < bf.cardinality_estimate() < 3_300


def test_ref_clean_tokens_drops_short_noise_stopwords_and_arrows():
    # exact-match drops on whitespace splits: case and punctuation stay
    toks = "The running dogs are at \u2191top ok the jumping, \u25b2up".split()
    assert ref_clean_tokens(toks) == ["The", "running", "dogs", "jumping,"]


def test_bm25okapi_ranks_relevant_doc_higher_and_floors_negative_idf():
    corpus = [
        ["spark", "query", "engine"],
        ["cooking", "pasta", "recipe"],
        ["spark", "spark", "shuffle", "join"],
    ]
    bm = BM25Okapi(corpus)
    s = bm.get_scores(["spark"])
    assert s[1] == 0.0 and s[0] > 0.0 and s[2] > s[0]
    # "spark" is in 2 of 3 docs: its raw idf is negative, floored to
    # epsilon (0.25) x the mean raw idf over the 8 distinct words
    raw = math.log(2.5) - math.log(1.5)  # df = 1
    assert bm.idf["spark"] == pytest.approx(0.25 * (7 * raw - raw) / 8)


ROBOTS = """
User-agent: *
Disallow: /private/
Allow: /private/ok.html
Disallow: /*.pdf$
Crawl-delay: 2

User-agent: special-bot
Disallow: /
"""


def test_robots_longest_match_and_allow_wins():
    assert can_fetch(ROBOTS, "/public/a.html")
    assert not can_fetch(ROBOTS, "/private/secret.html")
    assert can_fetch(ROBOTS, "/private/ok.html")
    assert not can_fetch(ROBOTS, "/files/doc.pdf")
    assert can_fetch(ROBOTS, "/files/doc.pdfx")  # $ anchor


def test_robots_agent_groups():
    assert not can_fetch(ROBOTS, "/anything", agent="special-bot/1.0")
    rs = parse_robots(ROBOTS, "*")
    assert rs.crawl_delay == 2.0


def test_robots_empty_allows_everything():
    assert can_fetch("", "/x")
    assert can_fetch("User-agent: *\nDisallow:", "/x")


def test_pdf_kernel_roundtrip():
    from crawl4ai_custom_spark.kernel.pdfmini import (
        build_simple_pdf,
        pdf_page_count,
        pdf_text,
    )

    pdf = build_simple_pdf(["Hello (world)", "Back\\slash page"])
    assert pdf_page_count(pdf) == 2
    assert pdf_text(pdf) == "Hello (world) Back\\slash page"
    plain = build_simple_pdf(["uncompressed"], compress=False)
    assert pdf_text(plain) == "uncompressed"
    assert pdf_text(b"not a pdf") == "" and pdf_page_count(b"") == 0


def test_pdf_operator(spark):
    from crawl4ai_custom_spark.kernel.pdfmini import build_simple_pdf
    from crawl4ai_custom_spark.operators.pdf import extract_pdf

    rows = [(i, bytearray(build_simple_pdf([f"page one {i}", f"two {i}"])))
            for i in range(5)]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    out = {(r["media_id"], r["page_number"]): r
           for r in extract_pdf(df).collect()}
    assert len(out) == 5 * 3  # whole-doc row + one row per page
    assert out[3, 0]["meta_pages"] == 2
    assert out[3, 0]["page_text"] == "page one 3 two 3"
    assert out[3, 1]["page_text"] == "page one 3"
    assert out[3, 2]["page_text"] == "two 3" and out[3, 2]["meta_pages"] == 2


def test_imagecodec_png_roundtrip_all_filters():
    import numpy as np

    from crawl4ai_custom_spark.kernel.imagecodec import decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in [(1, 1), (6, 1), (1, 9), (16, 16), (7, 13)]:
        gray = rng.integers(0, 256, shape, dtype=np.uint8)
        rgb = rng.integers(0, 256, shape + (3,), dtype=np.uint8)
        for mode in ("none", "cycle"):  # 'cycle' hits Sub/Up/Average/Paeth
            assert np.array_equal(decode_png(encode_png(gray, mode)), gray)
            assert np.array_equal(decode_png(encode_png(rgb, mode)), rgb)
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_imagecodec_wav_roundtrip():
    import numpy as np

    from crawl4ai_custom_spark.kernel.imagecodec import decode_wav, encode_wav

    rng = np.random.default_rng(5)
    s = (rng.integers(0, 65536, 777) - 32768).astype(np.int16)
    dec, rate = decode_wav(encode_wav(s, 8000))
    assert rate == 8000 and np.array_equal(dec, s)
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")


def test_decode_media_stats_real_and_unsupported(spark):
    import numpy as np

    from crawl4ai_custom_spark.kernel.imagecodec import encode_png, encode_wav
    from crawl4ai_custom_spark.operators.multimodal import decode_media_stats

    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    rows = [
        (1, bytearray(encode_png(px, "cycle"))),
        (2, bytearray(encode_wav(np.array([-3, 0, 7], dtype=np.int16), 16000))),
        # progressive jpeg (SOF2): recognized, honestly 'unsupported'
        (3, bytearray(b"\xff\xd8\xff\xc2\x00\x08\x08\x00\x08\x00\x08\x01")),
        (4, bytearray(b"\x89PNG but truncated")),  # bad png: 'error'
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    out = {r["media_id"]: r for r in decode_media_stats(df).collect()}
    assert out[1]["decoder"] == "png-stdlib"
    assert (out[1]["width"], out[1]["height"]) == (8, 6)
    assert out[1]["val_sum"] == int(px.sum()) and out[1]["val_max"] == 47
    assert out[2]["decoder"] == "wav-stdlib"
    assert out[2]["n_values"] == 3 and out[2]["val_sum"] == 4
    assert out[2]["val_min"] == -3 and out[2]["width"] == 16000
    assert out[3]["decoder"] == "unsupported" and out[3]["format"] == "jpeg"
    assert out[4]["decoder"] == "error" and out[4]["val_sum"] is None


def test_image_ahash_closed_form_and_neardup(spark):
    """aHash bits follow the exact integer rule (cell_sum*n_px >
    total*cell_cnt) on a hand-computable image; a one-pixel-bumped copy
    lands within small Hamming distance and the banded join finds it,
    while an unrelated image does not pair up."""
    import numpy as np
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.kernel.imagecodec import encode_png
    from crawl4ai_custom_spark.operators.dedup import hamming_neardup
    from crawl4ai_custom_spark.operators.multimodal import image_ahash

    # 6x10 image on a 6x10 grid: each pixel IS its cell -> bit k set
    # exactly when pixel k > mean. Row-major gradient 0..59, mean 29.5.
    px = np.arange(60, dtype=np.uint8).reshape(6, 10)
    near = px.copy()
    near[0, 0] = 59  # one pixel flips exactly bit 0's cell relation? no:
    # pixel 0 goes 0 -> 59: still below the (slightly shifted) mean in
    # every other cell; only cell 0's own bit can flip.
    far = (px[::-1, ::-1]).copy()  # reversed gradient: ~all bits inverted
    rows = [(1, bytearray(encode_png(px))), (2, bytearray(encode_png(near))),
            (3, bytearray(encode_png(far))),
            (4, bytearray(b"\x89PNG truncated"))]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    ah = image_ahash(df, grid_w=10, grid_h=6)
    out = {r["media_id"]: r for r in ah.collect()}
    expect = sum(1 << k for k in range(60) if k * 60 > sum(range(60)))
    assert out[1]["ahash"] == expect
    assert out[4]["decoder"] == "error" and out[4]["ahash"] is None
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in hamming_neardup(
        ah.where(F.col("ahash").isNotNull()),
        id_col="media_id", hash_col="ahash",
        max_hamming=6, n_bands=4, bits=60,
    ).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 2
    assert (1, 3) not in pairs  # reversed gradient: far in Hamming space


def test_video_frame_stats_real_decode_and_fences(spark):
    """MJPEG AVI decodes to exact per-frame stats; a non-MJPEG codec is
    honestly 'unsupported'; a truncated container is 'error'."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.avimini import encode_avi_mjpeg
    from crawl4ai_custom_spark.kernel.jpegmini import (
        encode_jpeg_flat_blocks,
    )
    from crawl4ai_custom_spark.operators.multimodal import video_frame_stats

    frames = [
        encode_jpeg_flat_blocks(np.array([[10 * f, 200]], dtype=np.uint8))
        for f in range(3)
    ]
    good = encode_avi_mjpeg(frames, 16, 8)
    xvid = good.replace(b"vidsMJPG", b"vidsXVID")
    rows = [(1, bytearray(good)), (2, bytearray(xvid)),
            (3, bytearray(good[:40])), (4, bytearray(b"not media"))]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    out = video_frame_stats(df).collect()
    by = {}
    for r in out:
        by.setdefault(r["media_id"], []).append(r)
    assert len(by[1]) == 3
    f2 = {r["frame_idx"]: r for r in by[1]}[2]
    assert (f2["width"], f2["height"]) == (16, 8)
    assert f2["val_sum"] == (20 + 200) * 64 and f2["val_max"] == 200
    assert by[2][0]["decoder"] == "unsupported"
    assert by[3][0]["decoder"] == "error"
    assert by[4][0]["decoder"] == "unsupported"  # not even a RIFF


def test_video_ahash_and_neardup(spark):
    """A re-encoded copy of a video shares every frame hash (containment
    1.0); a clip of its first two frames still flags via containment of
    the SMALLER side; an unrelated video does not pair."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.avimini import encode_avi_mjpeg
    from crawl4ai_custom_spark.kernel.jpegmini import (
        encode_jpeg_flat_blocks,
    )
    from crawl4ai_custom_spark.operators.multimodal import (
        video_ahash,
        video_neardup,
    )

    def frame(pat):
        # aHash is STRUCTURE-based (cells above/below the mean), so frames
        # must differ in pattern, not just gray level, to hash apart
        return encode_jpeg_flat_blocks(
            (np.array(pat, dtype=np.uint8).reshape(2, 3) * 255))

    a = [frame(p) for p in ((1, 0, 0, 0, 1, 0), (0, 1, 0, 0, 0, 1),
                            (1, 1, 0, 0, 0, 1), (0, 0, 1, 1, 0, 0))]
    other = [frame(p) for p in ((1, 0, 1, 0, 1, 1), (0, 1, 1, 1, 0, 0))]
    rows = [
        (1, bytearray(encode_avi_mjpeg(a, 24, 16))),
        (2, bytearray(encode_avi_mjpeg(list(a), 24, 16, fps=30))),  # copy
        (3, bytearray(encode_avi_mjpeg(a[:2], 24, 16))),            # clip
        (4, bytearray(encode_avi_mjpeg(other, 24, 16))),            # other
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    vh = video_ahash(df)
    pairs = {(r["id_a"], r["id_b"]): r for r in
             video_neardup(vh, min_shared=2, min_frac=0.5).collect()}
    assert pairs[(1, 2)]["frac"] == 1.0 and pairs[(1, 2)]["shared"] == 4
    assert pairs[(1, 3)]["frac"] == 1.0  # 2 of min(4, 2): clip contained
    assert not any(4 in p for p in pairs)


def test_audio_ahash_closed_form_and_neardup(spark):
    """Each of 60 samples is its own energy window: bit k set exactly when
    |sample k| > mean |sample|; a one-sample edit stays Hamming-near."""
    import numpy as np
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.kernel.imagecodec import encode_wav
    from crawl4ai_custom_spark.operators.dedup import hamming_neardup
    from crawl4ai_custom_spark.operators.multimodal import audio_ahash

    s = np.array([0] * 30 + [100] * 30, dtype=np.int16)  # mean |s| = 50
    near = s.copy()
    near[0] = 5  # still below mean: hash unchanged or 1 bit off
    loud = (s[::-1] * -1).astype(np.int16)  # reversed + inverted energy
    rows = [(1, bytearray(encode_wav(s, 16000))),
            (2, bytearray(encode_wav(near, 16000))),
            (3, bytearray(encode_wav(loud, 16000))),
            (4, bytearray(b"RIFFxxxxNOPE"))]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    ah = audio_ahash(df)
    out = {r["media_id"]: r for r in ah.collect()}
    assert out[1]["ahash"] == sum(1 << k for k in range(30, 60))
    assert out[3]["ahash"] == sum(1 << k for k in range(0, 30))
    assert out[4]["decoder"] == "error" and out[4]["ahash"] is None
    pairs = {(r["id_a"], r["id_b"]) for r in hamming_neardup(
        ah.where(F.col("ahash").isNotNull()),
        id_col="media_id", hash_col="ahash",
        max_hamming=3, n_bands=4, bits=60,
    ).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_jpeg_flat_roundtrip_exact():
    """DC-only blocks + all-ones quant table round-trip exactly."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.jpegmini import (
        decode_jpeg, encode_jpeg_flat_blocks,
    )

    blocks = np.array([[0, 255, 128], [17, 203, 64]], dtype=np.uint8)
    img = decode_jpeg(encode_jpeg_flat_blocks(blocks))
    assert img.shape == (16, 24)
    assert np.array_equal(img, np.kron(blocks, np.ones((8, 8), np.uint8)))


def test_jpeg_general_gray_ac_path():
    """Full DCT encode -> decode matches an independent numpy
    reconstruction of the quantized coefficients (exercises zigzag,
    run-length, ZRL, EOB and the Huffman bit paths)."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.jpegmini import (
        _C, decode_jpeg, encode_jpeg_gray,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
    img = decode_jpeg(encode_jpeg_gray(px))
    rec = np.zeros_like(px)
    for yb in range(2):
        for xb in range(2):
            b = px[yb * 8:yb * 8 + 8, xb * 8:xb * 8 + 8] - 128.0
            q = np.round(_C @ b @ _C.T)
            rec[yb * 8:yb * 8 + 8, xb * 8:xb * 8 + 8] = _C.T @ q @ _C + 128.0
    assert np.array_equal(img, np.clip(np.round(rec), 0, 255).astype(np.uint8))
    # near-lossless vs the original at quant=1
    assert np.abs(img.astype(int) - px).max() <= 2


def test_jpeg_color_444_decode():
    """3-component 4:4:4 interleaved scan -> RGB via the standard YCbCr
    transform; stream hand-assembled from flat DC-only component blocks."""
    import struct

    import numpy as np

    from crawl4ai_custom_spark.kernel import jpegmini as J

    y_v, cb_v, cr_v = 120, 140, 160
    dc = J._huff_codes(J._DC_BITS, J._DC_VALS)
    ac = J._huff_codes(J._AC_BITS, J._AC_VALS)
    w = J._BitWriter()
    for v in (y_v, cb_v, cr_v):            # one MCU, three components
        diff = int(round(8 * (v - 128)))
        t = abs(diff).bit_length()
        w.write(dc[t])
        if t:
            w.write(format(diff if diff >= 0 else diff + (1 << t) - 1,
                           f"0{t}b"))
        w.write(ac[0x00])
    w.flush()

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    data = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 3)
              + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(J._DC_BITS[1:]) + bytes(J._DC_VALS))
        + seg(0xC4, bytes([0x10]) + bytes(J._AC_BITS[1:]) + bytes(J._AC_VALS))
        + seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + bytes(w.out) + b"\xff\xd9"
    )
    img = J.decode_jpeg(data)
    assert img.shape == (8, 8, 3)
    r = round(y_v + 1.402 * (cr_v - 128))
    g = round(y_v - 0.344136 * (cb_v - 128) - 0.714136 * (cr_v - 128))
    b = round(y_v + 1.772 * (cb_v - 128))
    assert (img[0, 0] == [r, g, b]).all()
    assert (img == img[0, 0]).all()


def test_jpeg_honest_fences():
    import pytest

    from crawl4ai_custom_spark.kernel.jpegmini import decode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG....")
    with pytest.raises(NotImplementedError):
        # progressive SOF2
        decode_jpeg(b"\xff\xd8\xff\xc2\x00\x08" + b"\x08\x00\x08\x00\x08\x01")


def test_image_resize_area_is_exact_block_mean(spark):
    """Integer-factor area resize = exact block mean (round half up),
    verified through the full encode -> resize -> encode -> decode chain."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.imagecodec import decode_png, encode_png
    from crawl4ai_custom_spark.operators.multimodal import image_resize

    rng_px = (np.arange(256, dtype=np.int64) * 31 % 256).astype(
        np.uint8).reshape(16, 16)
    media = spark.createDataFrame(
        [(1, bytearray(encode_png(rng_px)))], ["media_id", "payload"]
    )
    out = image_resize(media, 4, 4, method="area").collect()[0]
    assert (out["decoder"], out["src_width"], out["src_height"]) == (
        "png-stdlib", 16, 16)
    got = decode_png(bytes(out["payload"]))
    exp = np.floor(
        rng_px.reshape(4, 4, 4, 4).mean(axis=(1, 3)) + 0.5
    ).astype(np.uint8)
    assert np.array_equal(got, exp)


def test_image_resize_rgb_and_fractional(spark):
    """RGB input and a fractional factor (10 -> 4): output geometry right,
    channels independent, values within the source range per channel."""
    import numpy as np

    from crawl4ai_custom_spark.kernel.imagecodec import decode_png, encode_png
    from crawl4ai_custom_spark.operators.multimodal import image_resize

    px = np.zeros((10, 10, 3), dtype=np.uint8)
    px[:, :, 0] = 200   # constant R plane must stay exactly 200
    px[:, :, 1] = np.arange(100, dtype=np.uint8).reshape(10, 10)
    media = spark.createDataFrame(
        [(7, bytearray(encode_png(px)))], ["media_id", "payload"]
    )
    out = image_resize(media, 4, 4, method="area").collect()[0]
    got = decode_png(bytes(out["payload"]))
    assert got.shape == (4, 4, 3)
    assert (got[:, :, 0] == 200).all()
    assert got[:, :, 1].min() >= 0 and got[:, :, 1].max() <= 99
    assert (got[:, :, 2] == 0).all()


def test_image_resize_unsupported_and_corrupt(spark):
    """Non-image and corrupt payloads follow the decode convention:
    decoder 'unsupported'/'error', null payload — never a fake image."""
    from crawl4ai_custom_spark.kernel.imagecodec import encode_png
    import numpy as np

    from crawl4ai_custom_spark.operators.multimodal import image_resize

    good = encode_png(np.zeros((8, 8), dtype=np.uint8))
    # recognized PNG with an unsupported color type (palette): byte 25 is
    # IHDR color_type -> NotImplementedError in the codec
    exotic = bytearray(good)
    exotic[25] = 3
    media = spark.createDataFrame(
        [(1, bytearray(b"GIF89a not supported")),
         (2, bytearray(good[:30])),   # truncated PNG -> error
         (3, bytearray(good)),
         (4, exotic)],                # decodable format, unsupported mode
        ["media_id", "payload"],
    )
    rows = {r["media_id"]: r for r in image_resize(media, 2, 2).collect()}
    assert rows[1]["decoder"] == "unsupported" and rows[1]["payload"] is None
    assert rows[2]["decoder"] == "error" and rows[2]["payload"] is None
    assert rows[3]["decoder"] == "png-stdlib" and rows[3]["payload"]
    assert rows[4]["decoder"] == "unsupported" and rows[4]["payload"] is None
