"""CCITT Group 4 (ITU-T T.6) codec + minimal TIFF container: table
integrity, encode/decode round trips across the full run-length code
space, container round trips, and the Spark-side media-pipeline
integration (real dims, real pixels in media_dhash)."""

import numpy as np
import pytest

from two_tier_document_parser_spark.ccitt import (
    _BLACK_CODES,
    _EXT_CODES,
    _WHITE_CODES,
    decode_g4,
    decode_tiff_gray,
    encode_g4,
    tiff_dims,
    tiff_wrap_g4,
)


def test_run_tables_complete_and_prefix_free():
    """Every run 0..63 terminating + 64..1728 makeup per color +
    shared extended 1792..2560; each color's code space (incl.
    extended) is prefix-free — a transcription slip in the public
    T.4 tables would almost surely violate one of these."""
    assert set(_WHITE_CODES) == set(_BLACK_CODES) == (
        set(range(64)) | set(range(64, 1729, 64))
    )
    assert set(_EXT_CODES) == set(range(1792, 2561, 64))
    for codes in (_WHITE_CODES, _BLACK_CODES):
        space = sorted(list(codes.values()) + list(_EXT_CODES.values()))
        assert len(set(space)) == len(space)
        for a, b in zip(space, space[1:]):
            assert not b.startswith(a)


def test_g4_round_trip_randoms():
    rng = np.random.default_rng(42)
    for h, w, p in [
        (1, 1, 0.5), (3, 7, 0.5), (12, 64, 0.3), (5, 1728, 0.02),
        (4, 3000, 0.001), (8, 200, 0.9), (2, 2561, 0.0), (2, 2700, 1.0),
    ]:
        pix = (rng.random((h, w)) < p).astype(np.uint8)
        assert np.array_equal(
            pix, decode_g4(encode_g4(pix), columns=w, rows=h)
        ), (h, w, p)


def test_g4_round_trip_structured():
    """Checkerboard (vertical-mode torture) and triangle (all three
    modes) — plus the all-white and all-black degenerate pages."""
    for pat in (
        (np.indices((16, 40)).sum(0) % 2).astype(np.uint8),
        np.tri(20, 30, dtype=np.uint8),
        np.zeros((6, 100), np.uint8),
        np.ones((6, 100), np.uint8),
    ):
        h, w = pat.shape
        assert np.array_equal(pat, decode_g4(encode_g4(pat), w, h))


def test_g4_every_run_length():
    """Single-row images exercising horizontal-mode codes for every
    run 0..300 plus each makeup-code boundary (63/64, 1728/1729,
    2560/2561, 2623/2624 — the multi-makeup switchover)."""
    for k in list(range(0, 300)) + [
        63, 64, 65, 127, 128, 129, 1727, 1728, 1729,
        2559, 2560, 2561, 2623, 2624, 2625,
    ]:
        w = max(k + 2, 4000)
        row = np.zeros((1, w), np.uint8)
        row[0, :k] = 1
        assert np.array_equal(row, decode_g4(encode_g4(row), w, 1)), k


def test_g4_malformed_raises_or_truncates():
    with pytest.raises(ValueError):
        # 000000... is EOL territory inside a G4 line
        decode_g4(b"\x00\x00\x00\x00", columns=64, rows=2)
    pix = (np.indices((8, 32)).sum(0) % 2).astype(np.uint8)
    enc = encode_g4(pix)
    with pytest.raises(ValueError):
        decode_g4(enc[: len(enc) // 2], columns=32, rows=8)


def test_tiff_wrap_round_trip():
    rng = np.random.default_rng(3)
    gray = np.where(rng.random((33, 77)) < 0.2, 0, 255).astype(np.uint8)
    t = tiff_wrap_g4(gray)
    assert tiff_dims(t) == (77, 33)
    assert np.array_equal(decode_tiff_gray(t), gray)
    # non-TIFF and non-G4 payloads fall through to None
    assert tiff_dims(b"nope") is None
    assert decode_tiff_gray(b"\x89PNG\r\n\x1a\n") is None
    assert decode_tiff_gray(b"") is None


def test_media_pipeline_g4(spark):
    """End-to-end through the Spark kernels: a G4-TIFF payload gets
    REAL dims from extract_media_features' decode path and REAL
    pixels in media_dhash (its dHash equals the same pixels' as
    PNG)."""
    from two_tier_document_parser_spark.multimodal import (
        _decode_stub,
        media_dhash,
    )
    from two_tier_document_parser_spark.png import encode_png_gray

    rng = np.random.default_rng(9)
    src = np.where(rng.random((24, 48)) < 0.3, 0, 255).astype(np.uint8)
    payload = tiff_wrap_g4(src)
    assert _decode_stub(payload) == (48, 24)

    media = spark.createDataFrame(
        [("g4", "page_0_img_0", "image", payload),
         ("png", "page_0_img_0", "image", encode_png_gray(src))],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(media).collect()}
    assert got["g4"] == got["png"]
    assert got["g4"][1] is True


def test_g3_1d_round_trips():
    """Modified-Huffman flavor: every EOL/byte-align combination on
    random and degenerate lines."""
    from two_tier_document_parser_spark.ccitt import (
        decode_g3_1d,
        encode_g3_1d,
    )

    rng = np.random.default_rng(5)
    for h, w, p in [
        (1, 1, 0.5), (4, 64, 0.3), (6, 1728, 0.02),
        (3, 3000, 0.9), (2, 100, 0.0), (2, 100, 1.0),
    ]:
        for eol in (False, True):
            for ba in (False, True):
                pix = (rng.random((h, w)) < p).astype(np.uint8)
                enc = encode_g3_1d(pix, eol=eol, byte_align=ba)
                dec = decode_g3_1d(enc, columns=w, rows=h, byte_align=ba)
                assert np.array_equal(pix, dec), (h, w, p, eol, ba)


def test_g3_1d_truncation_raises():
    from two_tier_document_parser_spark.ccitt import (
        decode_g3_1d,
        encode_g3_1d,
    )

    pix = (np.indices((8, 64)).sum(0) % 3 == 0).astype(np.uint8)
    enc = encode_g3_1d(pix)
    with pytest.raises(ValueError):
        decode_g3_1d(enc[: len(enc) // 3], columns=64, rows=8)


def test_tiff_mh_round_trip():
    """Compression=2 (Modified Huffman) TIFF flavor decodes through
    the same entry point."""
    rng = np.random.default_rng(11)
    gray = np.where(rng.random((19, 83)) < 0.25, 0, 255).astype(np.uint8)
    t = tiff_wrap_g4(gray, compression=2)
    assert tiff_dims(t) == (83, 19)
    assert np.array_equal(decode_tiff_gray(t), gray)


def _bits_to_bytes(bits: str) -> bytes:
    bits = bits + "0" * (-len(bits) % 8)
    return bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))


def test_g4_adversarial_never_hangs():
    """Horizontal mode with two zero-length runs never advances a0 —
    must raise, not loop forever."""
    data = _bits_to_bytes(("001" + "00110101" + "0000110111") * 400)
    with pytest.raises(ValueError):
        decode_g4(data, columns=64, rows=4)


def test_g3_zero_run_spam_never_hangs():
    """Crafted white-0/black-0 code pairs never advance the line
    position — must raise, not hang."""
    from two_tier_document_parser_spark.ccitt import decode_g3_1d

    data = _bits_to_bytes(("00110101" + "0000110111") * 400)
    with pytest.raises(ValueError):
        decode_g3_1d(data, columns=64, rows=4)


def test_ccitt_random_bytes_terminate():
    """Arbitrary junk either raises cleanly or yields a bounded
    array — the decoders sit behind the never-throw ingest contract,
    so a hang or non-ValueError escape is the failure mode."""
    import numpy as np

    from two_tier_document_parser_spark.ccitt import decode_g3_1d

    rng = np.random.default_rng(123)
    for _ in range(200):
        junk = rng.integers(0, 256, size=rng.integers(1, 200),
                            dtype=np.uint8).tobytes()
        for dec in (
            lambda d: decode_g4(d, columns=53, rows=7),
            lambda d: decode_g3_1d(d, columns=53, rows=7),
        ):
            try:
                out = dec(junk)
                assert out.shape == (7, 53)
            except (ValueError, EOFError):
                pass


# ---------------------------------------------------- JBIG2 dim sniff


def _jbig2_page_info(w: int, h: int, first_junk_segment: bool = False,
                     file_header: bool = False) -> bytes:
    """Segment stream per ITU-T T.88 §7.2: optional 0-referred junk
    segment, then a type-48 page-info segment carrying w/h."""
    out = b""
    if file_header:
        out += b"\x97JB2\r\n\x1a\n" + bytes([0x02])  # unknown pages
    seg = 0
    if first_junk_segment:
        out += (
            seg.to_bytes(4, "big") + bytes([0x00])  # type 0 symbol dict
            + bytes([0x00]) + bytes([1])            # 0 refs, page 1
            + (5).to_bytes(4, "big") + b"\x01\x02\x03\x04\x05"
        )
        seg += 1
    data = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
        + bytes([0]) + (0).to_bytes(2, "big")
    )
    out += (
        seg.to_bytes(4, "big") + bytes([0x30])  # type 48
        + bytes([0x00]) + bytes([1])
        + len(data).to_bytes(4, "big") + data
    )
    return out


def test_jbig2_dims_embedded_and_file_header():
    from two_tier_document_parser_spark.jbig2 import jbig2_dims

    assert jbig2_dims(_jbig2_page_info(2550, 3300)) == (2550, 3300)
    assert jbig2_dims(
        _jbig2_page_info(100, 200, first_junk_segment=True)
    ) == (100, 200)
    assert jbig2_dims(
        _jbig2_page_info(64, 32, file_header=True)
    ) == (64, 32)


def test_jbig2_dims_rejects_non_jbig2_and_striped():
    from two_tier_document_parser_spark.jbig2 import jbig2_dims

    assert jbig2_dims(b"") is None
    # printable text: first 4 bytes read as a huge segment number
    assert jbig2_dims(b"Lorem ipsum dolor sit amet " * 3) is None
    # striped page of unknown height must NOT report a fake height
    assert jbig2_dims(_jbig2_page_info(640, 0xFFFFFFFF)) is None


def test_g3_2d_mixed_round_trips():
    """T.4 mixed 2-D (K>0): per-line EOL + tag bit, 1-D every k-th
    line, 2-D against the previous line otherwise."""
    from two_tier_document_parser_spark.ccitt import (
        decode_g3_2d,
        encode_g3_2d,
    )

    rng = np.random.default_rng(13)
    for shape in [(1, 8), (5, 17), (20, 64), (33, 100)]:
        for k in (1, 2, 4, 8):
            for ba in (False, True):
                pix = (rng.integers(0, 4, shape) == 0).astype(np.uint8)
                enc = encode_g3_2d(pix, k=k, byte_align=ba)
                dec = decode_g3_2d(
                    enc, columns=shape[1], rows=shape[0], byte_align=ba
                )
                assert np.array_equal(dec, pix), (shape, k, ba)
    # rows=None terminates on the RTC (six EOL+1)
    pat = np.zeros((30, 80), np.uint8)
    pat[5:25, 10:70] = 1
    dec = decode_g3_2d(encode_g3_2d(pat, k=2), columns=80)
    assert np.array_equal(dec, pat)


def test_g3_2d_truncation_and_garbage():
    from two_tier_document_parser_spark.ccitt import (
        decode_g3_2d,
        encode_g3_2d,
    )

    pat = np.zeros((12, 40), np.uint8)
    pat[2:10, 5:35] = 1
    enc = encode_g3_2d(pat, k=2)
    import pytest as _pytest

    for cut in (3, 10, len(enc) // 2):
        with _pytest.raises(ValueError):
            decode_g3_2d(enc[:cut], 40, 12)
    assert decode_g3_2d(b"", 40).shape == (0, 40)
    rng = np.random.default_rng(14)
    buf = bytearray(enc)
    for _ in range(150):
        i = int(rng.integers(0, len(buf)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        try:
            r = decode_g3_2d(bytes(buf), 40, 12)
            assert r.shape == (12, 40)
        except ValueError:
            pass
        buf = bytearray(enc)


def test_tiff_compression3_2d():
    """TIFF Compression=3 with T4Options bit 0 (2-D) routes through
    decode_g3_2d; bilevel pixels equal the source."""
    import struct as _struct

    from two_tier_document_parser_spark.ccitt import (
        decode_tiff_gray,
        encode_g3_2d,
    )

    rng = np.random.default_rng(15)
    pix = (rng.integers(0, 3, (14, 33)) == 0).astype(np.uint8)
    payload = encode_g3_2d(pix, k=4)
    # little-endian single-strip TIFF, comp 3, T4Options=1,
    # photometric 0 (WhiteIsZero)
    tags = [
        (256, 3, 1, 33), (257, 3, 1, 14), (259, 3, 1, 3),
        (262, 3, 1, 0), (273, 4, 1, 0), (278, 3, 1, 14),
        (279, 4, 1, len(payload)), (292, 4, 1, 1),
    ]
    ifd_off = 8
    strip_off = ifd_off + 2 + 12 * len(tags) + 4
    out = b"II*\x00" + _struct.pack("<I", ifd_off)
    out += _struct.pack("<H", len(tags))
    for tag, typ, cnt, val in tags:
        if tag == 273:
            val = strip_off
        out += _struct.pack("<HHII", tag, typ, cnt, val)
    out += b"\x00" * 4 + payload
    gray = decode_tiff_gray(out)
    assert gray is not None
    assert np.array_equal(gray, np.where(pix == 1, 0, 255))
