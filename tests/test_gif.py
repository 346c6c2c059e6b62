"""GIF codec tests: encoder/decoder roundtrip (the encoder builds
LZW from a byte-string dict, the decoder from prefix/suffix tables —
two independent implementations), a hand-assembled RGB-palette +
transparency + extension fixture whose LZW codes are bit-packed by a
third, local packer, interlace reordering, and fuzz safety."""

from __future__ import annotations

import numpy as np
import pytest

from two_tier_document_parser_spark.gif import (
    decode_gif_gray,
    encode_gif_gray,
    gif_dims,
)


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize(
    "shape", [(1, 1), (3, 5), (8, 8), (17, 31), (64, 64), (200, 137), (1, 300)]
)
def test_roundtrip(shape, interlace):
    rng = np.random.default_rng(hash(shape) % 2**31)
    px = rng.integers(0, 256, shape, dtype=np.uint8)
    data = encode_gif_gray(px, interlace=interlace)
    assert gif_dims(data) == (shape[1], shape[0])
    out = decode_gif_gray(data)
    assert out is not None and np.array_equal(out, px)


def test_lzw_long_runs_and_table_reset():
    # low-entropy: long LZW chains; 256x256 random: 4096-entry reset
    px = np.zeros((300, 300), np.uint8)
    px[::3] = 17
    assert np.array_equal(decode_gif_gray(encode_gif_gray(px)), px)
    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, (256, 256), dtype=np.uint8)
    assert np.array_equal(decode_gif_gray(encode_gif_gray(px)), px)


def test_gradient_interlace():
    px = (np.add.outer(np.arange(100), np.arange(211)) % 256).astype(np.uint8)
    for il in (False, True):
        assert np.array_equal(decode_gif_gray(encode_gif_gray(px, il)), px)


def _pack_codes(codes_and_widths):
    """Independent LSB-first GIF bit packer for the hand fixture."""
    acc = nbits = 0
    out = bytearray()
    for code, width in codes_and_widths:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_hand_fixture_rgb_palette_transparency_extensions():
    """2x2 GIF89a, 4-entry RGB palette, GCE transparency on index 3,
    a comment extension before the image, codes hand-derived from the
    spec: clear(4), 0, 1, 2 at 3 bits; 3, eoi(5) at 4 bits."""
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (8, 8, 8)]
    lzw = _pack_codes([(4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (5, 4)])
    data = (
        b"GIF89a"
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + bytes([0x91, 0, 0])  # GCT, 4 entries
        + b"".join(bytes(c) for c in palette)
        + bytes([0x21, 0xFE, 5]) + b"hello" + bytes([0])  # comment ext
        + bytes([0x21, 0xF9, 4, 0x01, 0, 0, 3, 0])  # GCE: transparent idx 3
        + bytes([0x2C, 0, 0, 0, 0])
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + bytes([0x00])  # no LCT, no interlace
        + bytes([2])  # LZW min code size
        + bytes([len(lzw)]) + lzw + bytes([0])
        + bytes([0x3B])
    )
    assert gif_dims(data) == (2, 2)
    out = decode_gif_gray(data)
    # BT.601 luma: red 76, green 149, blue 29; index 3 transparent -> 255
    assert np.array_equal(out, np.array([[76, 149], [29, 255]], np.uint8))


def test_interlace_row_order():
    """9-row interlaced image: rows arrive in pass order
    0,8 / 4 / 2,6 / 1,3,5,7 and must be reassembled by display row."""
    px = (np.arange(9, dtype=np.uint8)[:, None] * np.ones(4, np.uint8))
    data = encode_gif_gray(px, interlace=True)
    out = decode_gif_gray(data)
    assert np.array_equal(out, px)
    # the non-interlaced encoding of the same pixels differs on the wire
    assert data != encode_gif_gray(px, interlace=False)


def test_garbage_and_truncation_safety():
    assert decode_gif_gray(b"") is None
    assert decode_gif_gray(b"GIF89a") is None
    assert decode_gif_gray(b"NOTGIF" + bytes(100)) is None
    assert gif_dims(b"\x89PNG\r\n\x1a\n") is None
    full = encode_gif_gray(np.full((10, 10), 77, np.uint8))
    for cut in (7, 10, 13, 20, len(full) // 2, len(full) - 2):
        r = decode_gif_gray(full[:cut])
        assert r is None or r.shape == (10, 10)
    # bit-flip fuzz: decoder never raises
    rng = np.random.default_rng(1)
    buf = bytearray(full)
    for _ in range(200):
        i = int(rng.integers(6, len(buf)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        r = decode_gif_gray(bytes(buf))
        assert r is None or isinstance(r, np.ndarray)
        buf = bytearray(full)


@pytest.mark.parametrize("min_code", [9, 10, 11])
def test_min_code_size_above_8_is_not_a_gif(min_code):
    """GIF allows LZW minimum code sizes 2..8; a larger one makes root
    codes that do not fit a palette index byte. Such a payload is not
    decodable: None from every GIF entry point, never an exception
    escaping into the media kernels."""
    from two_tier_document_parser_spark.gif import decode_gif_frames
    from two_tier_document_parser_spark.multimodal import decode_image_gray

    px = np.arange(16, dtype=np.uint8).reshape(4, 4)
    data = bytearray(encode_gif_gray(px))
    lzw_min = 6 + 7 + 768 + 10  # header, screen, GCT, image descriptor
    assert data[lzw_min] == 8
    data[lzw_min] = min_code
    data = bytes(data)
    assert decode_gif_gray(data) is None
    assert decode_gif_frames(data) is None
    assert decode_image_gray(data) is None


def _animated_gif(screen, frames):
    """Multi-frame GIF built by splicing the package encoder's image
    blocks: frames = list of (pixels, left, top, disposal,
    transparent_idx or None). Uses the 256-gray GCT from
    encode_gif_gray and per-frame GCEs."""
    sw, sh = screen
    first = encode_gif_gray(np.zeros((1, 1), np.uint8))
    # header(6) + LSD(7) + GCT(768)
    head = bytearray(first[: 6 + 7 + 768])
    head[6:8] = sw.to_bytes(2, "little")
    head[8:10] = sh.to_bytes(2, "little")
    out = bytearray(head)
    for px, left, top, disposal, trans in frames:
        full = encode_gif_gray(px)
        block = bytearray(full[6 + 7 + 768 : -1])  # descriptor..data
        block[1:3] = left.to_bytes(2, "little")
        block[3:5] = top.to_bytes(2, "little")
        gce = bytes(
            [0x21, 0xF9, 4,
             (disposal << 2) | (1 if trans is not None else 0),
             0, 0, trans if trans is not None else 0, 0]
        )
        out += gce + block
    out += bytes([0x3B])
    return bytes(out)


def test_frames_compositing_and_disposal():
    from two_tier_document_parser_spark.gif import decode_gif_frames

    base = np.full((8, 10), 40, np.uint8)
    patch = np.full((3, 4), 200, np.uint8)
    # frame2 has transparent holes (index 7 transparent)
    holed = np.full((3, 4), 90, np.uint8)
    holed[1, 1:3] = 7
    data = _animated_gif(
        (10, 8),
        [
            (base, 0, 0, 1, None),       # full frame, leave in place
            (patch, 2, 3, 2, None),      # patch, then restore to bg
            (holed, 5, 0, 0, 7),         # transparent holes show canvas
        ],
    )
    frames = decode_gif_frames(data)
    assert frames is not None and len(frames) == 3
    # frame 0: the base everywhere
    assert np.array_equal(frames[0], base)
    # frame 1: base with the patch at (3..6, 2..6)
    exp1 = base.copy()
    exp1[3:6, 2:6] = 200
    assert np.array_equal(frames[1], exp1)
    # frame 2: disposal 2 restored the patch rect to WHITE before
    # frame 3 drew; holes show what's underneath (white over the
    # restored area is not touched here — holes at (1,6:8) show base)
    exp2 = base.copy()
    exp2[3:6, 2:6] = 255  # disposal-2 restore
    exp2[0:3, 5:9] = 90
    exp2[1, 6:8] = base[1, 6:8]  # transparent holes
    assert np.array_equal(frames[2], exp2)


def test_frames_disposal_restore_previous():
    from two_tier_document_parser_spark.gif import decode_gif_frames

    base = np.full((6, 6), 10, np.uint8)
    overlay = np.full((2, 2), 250, np.uint8)
    after = np.full((2, 2), 120, np.uint8)
    data = _animated_gif(
        (6, 6),
        [
            (base, 0, 0, 1, None),
            (overlay, 2, 2, 3, None),   # disposal 3: restore previous
            (after, 0, 0, 0, None),
        ],
    )
    frames = decode_gif_frames(data)
    assert len(frames) == 3
    exp1 = base.copy()
    exp1[2:4, 2:4] = 250
    assert np.array_equal(frames[1], exp1)
    # overlay was undone before frame 3 drew at (0,0)
    exp2 = base.copy()
    exp2[0:2, 0:2] = 120
    assert np.array_equal(frames[2], exp2)


def test_frames_single_frame_matches_still_decode():
    from two_tier_document_parser_spark.gif import (
        decode_gif_frames,
        decode_gif_gray,
    )

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (12, 17), np.uint8)
    data = encode_gif_gray(px)
    frames = decode_gif_frames(data)
    assert frames is not None and len(frames) == 1
    assert np.array_equal(frames[0], decode_gif_gray(data))


def test_frames_garbage_safety():
    from two_tier_document_parser_spark.gif import decode_gif_frames

    assert decode_gif_frames(b"") is None
    assert decode_gif_frames(b"GIF89a\x00\x00") is None
    data = _animated_gif(
        (5, 5), [(np.full((5, 5), 9, np.uint8), 0, 0, 0, None)] * 3
    )
    rng = np.random.default_rng(4)
    buf = bytearray(data)
    for _ in range(150):
        i = int(rng.integers(6, len(buf)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        r = decode_gif_frames(bytes(buf))
        assert r is None or isinstance(r, list)
        buf = bytearray(data)


def test_sample_frames_real_gif(spark):
    """sample_frames emits one real PNG per GIF animation frame, and
    the byte-chunk stub for non-GIF payloads."""
    from two_tier_document_parser_spark.multimodal import sample_frames
    from two_tier_document_parser_spark.png import decode_png_gray

    base = np.full((5, 6), 30, np.uint8)
    over = np.full((2, 2), 220, np.uint8)
    data = _animated_gif((6, 5), [(base, 0, 0, 1, None), (over, 1, 1, 0, None)])
    df = spark.createDataFrame(
        [("g", "m1", "image", bytearray(data)),
         ("s", "m2", "video", bytearray(b"0123456789abcdef0"))],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    rows = sample_frames(df).collect()
    gif_rows = sorted(
        (r for r in rows if r.doc_id == "g"), key=lambda r: r.frame_idx
    )
    assert len(gif_rows) == 2
    f0 = decode_png_gray(bytes(gif_rows[0].frame))
    f1 = decode_png_gray(bytes(gif_rows[1].frame))
    assert np.array_equal(f0, base)
    exp1 = base.copy()
    exp1[1:3, 1:3] = 220
    assert np.array_equal(f1, exp1)
    stub_rows = [r for r in rows if r.doc_id == "s"]
    assert len(stub_rows) == 3  # 17 bytes / 8-byte chunks
    assert bytes(stub_rows[0].frame) == b"01234567"
