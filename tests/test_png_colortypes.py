"""Full-spec PNG decode tests: every still-image color type
(0/2/3/4/6), bit depths 1/2/4/8/16, Adam7 interlace, PLTE + tRNS,
and filters 0-2 on multi-byte pixels — encoded by a local,
independent test-side encoder and compared against independently
computed BT.601 luma / white-composite expectations."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from two_tier_document_parser_spark.png import (
    PNG_SIG,
    _chunk,
    decode_png_gray,
    encode_png_gray,
    png_dims,
)

_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)
_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _enc(samples, ctype, depth, interlace=0, palette=None, trns=None,
         filters=None):
    """Independent PNG encoder: packs samples (h, w[, ch]) at the
    given depth/color type, optional Adam7, optional Sub/Up filters."""
    ch = _CH[ctype]
    h, w = samples.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)

    def rows_of(sub):
        sh = sub.shape[0]
        out = bytearray()
        prev = None
        for r in range(sh):
            if depth == 16:
                line = sub[r].astype(">u2").tobytes()
            elif depth == 8:
                line = sub[r].astype(np.uint8).tobytes()
            else:
                bits = []
                for v in sub[r].reshape(-1):
                    bits.extend(
                        ((int(v) >> (depth - 1 - k)) & 1) for k in range(depth)
                    )
                while len(bits) % 8:
                    bits.append(0)
                line = np.packbits(np.array(bits, np.uint8)).tobytes()
            ft = filters[r % len(filters)] if filters else 0
            arr = np.frombuffer(line, np.uint8).astype(np.int32)
            bpp = ch * (2 if depth == 16 else 1) if depth >= 8 else 1
            pv = np.zeros(len(arr), np.int32) if prev is None else prev
            if ft == 1:  # Sub
                left = np.concatenate([np.zeros(bpp, np.int32), arr[:-bpp]])
                f = (arr - left) & 0xFF
            elif ft == 2:  # Up
                f = (arr - pv) & 0xFF
            else:
                ft = 0
                f = arr
            out += bytes([ft]) + f.astype(np.uint8).tobytes()
            prev = arr
        return bytes(out)

    if interlace:
        raw = b"".join(
            rows_of(samples[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if samples[y0::dy, x0::dx].shape[0]
            and samples[y0::dy, x0::dx].shape[1]
        )
    else:
        raw = rows_of(samples)
    out = PNG_SIG + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def _luma(rgb):
    return (
        (299 * rgb[..., 0].astype(np.int64) + 587 * rgb[..., 1]
         + 114 * rgb[..., 2]) // 1000
    ).astype(np.uint8)


def _over_white(g, a):
    return (
        (a.astype(np.int64) * g.astype(np.int64) + (255 - a) * 255 + 127)
        // 255
    ).astype(np.uint8)


def test_engine_roundtrip_unchanged():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (37, 53), np.uint8)
    data = encode_png_gray(px)
    assert png_dims(data) == (53, 37)
    assert np.array_equal(decode_png_gray(data), px)


def test_rgb8_with_filters():
    rng = np.random.default_rng(4)
    rgb = rng.integers(0, 256, (21, 17, 3), np.int32)
    out = decode_png_gray(_enc(rgb, 2, 8, filters=[0, 1, 2]))
    assert np.array_equal(out, _luma(rgb))


def test_rgba_composites_over_white():
    rng = np.random.default_rng(5)
    rgba = rng.integers(0, 256, (9, 11, 4), np.int32)
    out = decode_png_gray(_enc(rgba, 6, 8))
    assert np.array_equal(out, _over_white(_luma(rgba[..., :3]), rgba[..., 3]))


def test_gray_alpha():
    rng = np.random.default_rng(6)
    ga = rng.integers(0, 256, (7, 5, 2), np.int32)
    out = decode_png_gray(_enc(ga, 4, 8))
    assert np.array_equal(out, _over_white(ga[..., 0], ga[..., 1]))


def test_palette_with_trns():
    rng = np.random.default_rng(7)
    pal = rng.integers(0, 256, (16, 3), np.int32)
    idx = rng.integers(0, 16, (13, 19), np.int32)
    trns = bytes([0 if i == 5 else 255 for i in range(16)])
    out = decode_png_gray(_enc(idx, 3, 8, palette=pal, trns=trns))
    a = np.where(idx == 5, 0, 255)
    assert np.array_equal(out, _over_white(_luma(pal[idx]), a))


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_subbyte_gray(depth):
    rng = np.random.default_rng(depth)
    gs = rng.integers(0, 1 << depth, (10, 23), np.int32)
    out = decode_png_gray(_enc(gs, 0, depth))
    assert np.array_equal(out, (gs * (255 // ((1 << depth) - 1))).astype(np.uint8))


def test_subbyte_palette():
    rng = np.random.default_rng(8)
    pal = rng.integers(0, 256, (8, 3), np.int32)
    idx = rng.integers(0, 8, (6, 9), np.int32)
    out = decode_png_gray(_enc(idx, 3, 4, palette=pal))
    assert np.array_equal(out, _luma(pal[idx]))


@pytest.mark.parametrize("depth", [2, 8, 16])
def test_gray_trns_sample_is_white(depth):
    """Colour type 0: tRNS holds one 16-bit gray sample; pixels with
    exactly that value are transparent, the rest keep their gray."""
    rng = np.random.default_rng(depth)
    g = rng.integers(0, 1 << depth, (9, 12), np.int32)
    key = int(g[4, 5])
    g[0, 0] = key ^ 1  # differs from the key in the low bit only
    out = decode_png_gray(_enc(g, 0, depth, trns=struct.pack(">H", key)))
    exp = decode_png_gray(_enc(g, 0, depth))
    assert (g == key).sum() < g.size
    assert np.array_equal(out, np.where(g == key, 255, exp))


@pytest.mark.parametrize("depth", [8, 16])
def test_rgb_trns_sample_is_white(depth):
    """Colour type 2: tRNS holds a 16-bit R, G, B triple; only pixels
    matching all three are transparent."""
    rng = np.random.default_rng(depth + 1)
    rgb = rng.integers(0, 4, (10, 7, 3), np.int32) * ((1 << depth) // 4)
    key = rgb[2, 3].copy()
    out = decode_png_gray(_enc(rgb, 2, depth, trns=struct.pack(">3H", *key)))
    hit = (rgb == key).all(axis=-1)
    assert 0 < hit.sum() < hit.size
    exp = _luma(rgb >> (depth - 8))
    assert np.array_equal(out, np.where(hit, 255, exp))


def test_16bit():
    rng = np.random.default_rng(9)
    g16 = rng.integers(0, 65536, (8, 8), np.int32)
    assert np.array_equal(
        decode_png_gray(_enc(g16, 0, 16)), (g16 >> 8).astype(np.uint8)
    )
    rgb16 = rng.integers(0, 65536, (5, 6, 3), np.int32)
    assert np.array_equal(decode_png_gray(_enc(rgb16, 2, 16)), _luma(rgb16 >> 8))


@pytest.mark.parametrize(
    "shape,ctype,depth",
    [((23, 29), 0, 8), ((16, 8, 3), 2, 8), ((11, 13), 0, 1), ((7, 9), 0, 4)],
)
def test_adam7(shape, ctype, depth):
    rng = np.random.default_rng(sum(shape))
    hi = 256 if depth >= 8 else 1 << depth
    arr = rng.integers(0, hi, shape, np.int32)
    out = decode_png_gray(_enc(arr, ctype, depth, interlace=1))
    if ctype == 2:
        exp = _luma(arr)
    elif depth < 8:
        exp = (arr * (255 // ((1 << depth) - 1))).astype(np.uint8)
    else:
        exp = arr.astype(np.uint8)
    assert np.array_equal(out, exp)


def test_garbage_safety():
    assert decode_png_gray(b"") is None
    assert decode_png_gray(PNG_SIG) is None
    assert decode_png_gray(PNG_SIG + b"junkjunkjunk") is None
    full = encode_png_gray(np.full((6, 6), 9, np.uint8))
    for cut in (9, 20, len(full) // 2):
        r = decode_png_gray(full[:cut])
        assert r is None or isinstance(r, np.ndarray)
    rng = np.random.default_rng(2)
    buf = bytearray(full)
    for _ in range(150):
        i = int(rng.integers(8, len(buf)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        r = decode_png_gray(bytes(buf))
        assert r is None or isinstance(r, np.ndarray)
        buf = bytearray(full)


def test_empty_plte_returns_none():
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    data = (
        PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", b"")
        + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x01"))
        + _chunk(b"IEND", b"")
    )
    assert decode_png_gray(data) is None
