"""Perceptual image dedup: dHash over real decoded pixels + the
banded near-dup self-join (multimodal.media_dhash /
media_near_dup_pairs).

Exactness model: the op is rows-only at the driver (pixel decode has
no SQL form), so these tests pin the semantics — a hand-computed
dHash vector, hamming-0 for byte-identical images, small-hamming for
a one-pixel edit, the pigeonhole completeness guarantee at the band
boundary, and the sha256 fallback flag for non-decodable payloads.
"""

from __future__ import annotations

import numpy as np

from two_tier_document_parser_spark.ccitt import tiff_wrap_g4
from two_tier_document_parser_spark.multimodal import (
    media_dhash,
    media_near_dup_pairs,
)
from two_tier_document_parser_spark.png import encode_png_gray

MEDIA_SCHEMA = "doc_id string, media_ref string, kind string, payload binary"
HASH_SCHEMA = "doc_id string, media_ref string, dhash long"


def _media(spark, rows):
    return spark.createDataFrame(
        [(d, r, "image", p) for d, r, p in rows], schema=MEDIA_SCHEMA
    )


def _hashes(spark, rows):
    return spark.createDataFrame(rows, schema=HASH_SCHEMA)


def test_dhash_known_vectors(spark):
    # strictly decreasing brightness left-to-right: every left pixel
    # is brighter than its right neighbor -> all 64 bits set -> the
    # signed-int64 representation is -1. Increasing -> all clear -> 0.
    dec = np.tile(np.arange(255, 255 - 18, -2, dtype=np.uint8), (8, 1))
    inc = np.tile(np.arange(0, 18, 2, dtype=np.uint8), (8, 1))
    df = _media(
        spark,
        [
            ("d1", "m1", encode_png_gray(dec)),
            ("d2", "m2", encode_png_gray(inc)),
        ],
    )
    got = {r.media_ref: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got == {"m1": (-1, True), "m2": (0, True)}


def test_dhash_exact_and_near_pair(spark):
    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    edited = base.copy()
    edited[3, 4] ^= 0xFF  # one-pixel edit -> flips at most 2 bits
    junk = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    df = _media(
        spark,
        [
            ("a", "m", encode_png_gray(base)),
            ("b", "m", encode_png_gray(base)),
            ("c", "m", encode_png_gray(edited)),
        ],
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in media_near_dup_pairs(media_dhash(df), max_hamming=6)
        .collect()
    }
    assert pairs[("a", "b")] == 0
    assert 0 <= pairs[("a", "c")] <= 2
    assert pairs[("b", "c")] == pairs[("a", "c")]
    # an unrelated random image is (with this seed) not within 6 bits
    df2 = _media(
        spark,
        [("a", "m", encode_png_gray(base)), ("z", "m", encode_png_gray(junk))],
    )
    assert (
        media_near_dup_pairs(media_dhash(df2), max_hamming=6).count() == 0
    )


def test_dhash_tiff_g4_payload(spark):
    # the scanned-bilevel leg: a G4-compressed TIFF decodes through
    # ccitt.py and hashes identically to the same pixels as PNG
    bilevel = (
        (np.add.outer(np.arange(24), np.arange(40)) % 7 < 3)
        .astype(np.uint8) * 255
    )
    df = _media(
        spark,
        [
            ("t", "m", tiff_wrap_g4(bilevel)),
            ("p", "m", encode_png_gray(bilevel)),
        ],
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["t"] == got["p"]
    assert got["t"][1] is True


def test_dhash_jbig2_payload(spark):
    """r05 close of the last "what's missing" #1 format family: a
    JBIG2 generic-region stream decodes through jbig2.py and hashes
    identically to the same bilevel pixels as PNG and as G4-TIFF —
    three codecs, one perceptual identity."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from test_jbig2 import generic_region_payload, page_info, seg, stream

    bilevel = (
        (np.add.outer(np.arange(24), np.arange(40)) % 7 < 3)
        .astype(np.uint8) * 255
    )
    bits = (bilevel == 0).astype(np.uint8)  # JBIG2: 1 = black
    jb2 = stream(
        seg(0, 48, 1, page_info(40, 24)),
        seg(1, 38, 1, generic_region_payload(bits, tpgdon=True)),
    )
    df = _media(
        spark,
        [
            ("j2", "m", jb2),
            ("t", "m", tiff_wrap_g4(bilevel)),
            ("p", "m", encode_png_gray(bilevel)),
        ],
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["j2"][1] is True
    assert got["j2"] == got["t"] == got["p"]


def test_dhash_jbig2_symbol_text_payload(spark):
    """r05 extension: an OCR-style JBIG2 stream (symbol dictionary +
    text region) decodes to REAL pixels through the Spark dhash path
    and agrees with the same page rendered as PNG."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from test_jbig2 import (
        _GLYPHS,
        _paste_expect,
        page_info,
        seg,
        stream,
        symbol_dict_payload,
        text_region_payload,
    )

    widths = [g.shape[1] for g in _GLYPHS]
    inst = [(0, 0, 0), (6, 0, 1), (12, 2, 2), (3, 8, 1), (9, 9, 0)]
    jb2 = stream(
        seg(0, 48, 1, page_info(18, 14)),
        seg(1, 0, 1, symbol_dict_payload(_GLYPHS)),
        seg(
            2, 6, 1,
            text_region_payload(inst, len(_GLYPHS), w=18, h=14,
                                sym_widths=widths),
            refs=(1,),
        ),
    )
    bits = np.zeros((14, 18), dtype=np.uint8)
    for s, t, sid in inst:
        _paste_expect(bits, _GLYPHS[sid], s, t)
    gray = np.where(bits == 1, 0, 255).astype(np.uint8)
    df = _media(spark, [("ocr", "m", jb2), ("p", "m", encode_png_gray(gray))])
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["ocr"][1] is True
    assert got["ocr"] == got["p"]


def test_dhash_jpx_payload(spark):
    """r05 close of the JPXDecode leg: a lossless JPEG-2000 payload
    decodes through jpeg2000.py and hashes identically to the same
    pixels as PNG — real_pixels=true for the last format family."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from test_jpeg2000 import encode_j2k, wrap_jp2

    img = (
        (np.add.outer(np.arange(24), np.arange(40)) * 7) % 251
    ).astype(np.uint8)
    df = _media(
        spark,
        [
            ("jpx", "m", wrap_jp2(encode_j2k(img, nl=2, cb=16), 40, 24)),
            ("p", "m", encode_png_gray(img)),
        ],
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["jpx"][1] is True
    assert got["jpx"] == got["p"]


def test_dhash_progressive_jpeg_payload(spark):
    """r05 task #3 done-criterion: SOF2 payloads hash over REAL
    pixels (real_pixels=true) and agree with the baseline encoding of
    the same image — progressive vs sequential coding is a container
    difference, not a pixel difference."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from test_jpeg import (
        _test_image,
        encode_gray_jpeg,
        encode_gray_jpeg_progressive,
    )

    img = _test_image(32, 48, seed=9)
    df = _media(
        spark,
        [
            ("prog", "m", encode_gray_jpeg_progressive(img)),
            ("base", "m", encode_gray_jpeg(img)),
        ],
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["prog"][1] is True
    assert got["prog"] == got["base"]


def test_dhash_fallback_flagged(spark):
    df = _media(spark, [("j", "m", b"\x00\x01not an image")])
    row = media_dhash(df).collect()[0]
    assert row.real_pixels is False
    # deterministic: same junk -> same hash
    row2 = media_dhash(df).collect()[0]
    assert row2.dhash == row.dhash


def test_band_completeness_boundary(spark):
    # pigeonhole: hamming <= 7 ALWAYS shares one of the 8 disjoint
    # 8-bit bands. Worst case for 7 flips = 7 distinct bands touched,
    # one band intact. 8 flips spread 1-per-band is the first case
    # banding can miss entirely.
    base = 0x0123456789ABCDEF
    h7 = base
    for band in range(7):  # flip 1 bit in each of 7 bands
        h7 ^= 1 << (8 * band)
    h8 = h7 ^ (1 << (8 * 7))
    df = _hashes(
        spark,
        [("x", "m", base), ("y7", "m", h7), ("y8", "m", h8)],
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in media_near_dup_pairs(df, max_hamming=8).collect()
    }
    assert pairs[("x", "y7")] == 7  # guaranteed found
    assert ("x", "y8") not in pairs  # 1-per-band: no band agrees
    # y7 vs y8 differ in exactly 1 bit -> found
    assert pairs[("y7", "y8")] == 1


def test_dhash_gif_and_webp_payloads(spark):
    """r05: GIF and lossless-WebP payloads decode through gif.py /
    webp.py and hash identically to the same pixels as PNG —
    real_pixels=true for the last still-web-image families (JPEG and
    PNG already covered; lossy VP8 stays the honest fallback)."""
    from two_tier_document_parser_spark.gif import encode_gif_gray
    from two_tier_document_parser_spark.webp import encode_webp_gray

    img = ((np.add.outer(np.arange(20), np.arange(33)) * 11) % 241).astype(
        np.uint8
    )
    df = _media(
        spark,
        [
            ("g", "m", encode_gif_gray(img)),
            ("gi", "m", encode_gif_gray(img, interlace=True)),
            ("w", "m", encode_webp_gray(img)),
            ("p", "m", encode_png_gray(img)),
        ],
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["g"][1] is True and got["w"][1] is True
    assert got["g"] == got["p"] == got["w"] == got["gi"]


def test_dhash_baseline_tiff_payloads(spark):
    """Baseline-TIFF strips (LZW-gray here) decode through
    decode_tiff_gray and hash identically to the same pixels as
    PNG — real_pixels=true for the non-CCITT scanner outputs too."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from test_tiff_baseline import _write_tiff

    img = ((np.add.outer(np.arange(18), np.arange(27)) * 13) % 229).astype(
        np.uint8
    )
    df = _media(
        spark,
        [
            ("t", "m", _write_tiff(img, comp=5)),
            ("p", "m", encode_png_gray(img)),
        ],
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(df).collect()}
    assert got["t"][1] is True
    assert got["t"] == got["p"]
