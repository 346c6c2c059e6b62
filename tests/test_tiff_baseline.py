"""Baseline-TIFF strip decode tests (decode_tiff_gray): uncompressed
/ TIFF-LZW (MSB-first, EARLY code-width change) / PackBits / Deflate
strips, 1-bit bilevel both photometrics, 8-bit gray and RGB, the
horizontal predictor, and multi-strip assembly — against a local,
independent test-side TIFF writer."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from two_tier_document_parser_spark.ccitt import (
    decode_tiff_g4,
    decode_tiff_gray,
    tiff_wrap_g4,
)


def _lzw_encode(data: bytes) -> bytes:
    """Independent TIFF-LZW compressor: dict keyed by byte strings,
    MSB-first packing, width grows once code (1 << width) - 1 has been
    assigned, as libtiff's encoder does (the decoder, one entry behind,
    widens a code earlier: TIFF's "early change")."""
    CLEAR, EOI = 256, 257
    table = {bytes([v]): v for v in range(256)}
    next_code, width = 258, 9
    outbits: list[tuple[int, int]] = [(CLEAR, 9)]

    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        outbits.append((table[run], width))
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:
            outbits.append((CLEAR, width))
            table = {bytes([v]): v for v in range(256)}
            next_code, width = 258, 9
        run = bytes([byte])
    if run:
        outbits.append((table[run], width))
    outbits.append((EOI, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in outbits:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Simple PackBits: runs of >=3 as repeats, else literals."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n - 1 and data[j] == data[j + 1] and j - i < 127:
            j += 1
        if j > i + 1:  # run of j-i+1
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
            continue
        j = i
        while (
            j < n
            and j - i < 127
            and not (j < n - 2 and data[j] == data[j + 1] == data[j + 2])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _write_tiff(samples, depth=8, spp=1, comp=1, photometric=None,
                predictor=1, rows_per_strip=None):
    """Independent TIFF writer: little-endian, strip layout."""
    h, w = samples.shape[:2]
    rps = rows_per_strip or h
    if photometric is None:
        photometric = 1
    rowbytes = (w * depth * spp + 7) // 8

    def pack_rows(rows):
        if depth == 1:
            bits = rows.reshape(rows.shape[0], -1)
            return np.packbits(bits, axis=1)[:, :rowbytes].tobytes()
        return rows.astype(np.uint8).tobytes()

    strips = []
    for y0 in range(0, h, rps):
        sub = samples[y0 : y0 + rps]
        if predictor == 2 and depth == 8:
            d = sub.reshape(sub.shape[0], w, spp).astype(np.int32)
            diff = d.copy()
            diff[:, 1:] = (d[:, 1:] - d[:, :-1]) % 256
            raw = diff.astype(np.uint8).tobytes()
        else:
            raw = pack_rows(sub)
        if comp == 1:
            strips.append(raw)
        elif comp == 5:
            strips.append(_lzw_encode(raw))
        elif comp == 32773:
            strips.append(_packbits_encode(raw))
        elif comp == 8:
            strips.append(zlib.compress(raw))
        else:
            raise ValueError(comp)

    tags = [
        (256, 3, 1, [w]),
        (257, 3, 1, [h]),
        (258, 3, spp, [depth] * spp),
        (259, 3, 1, [comp]),
        (262, 3, 1, [photometric]),
        (273, 4, len(strips), None),  # offsets, patched
        (277, 3, 1, [spp]),
        (278, 3, 1, [rps]),
        (279, 4, len(strips), [len(s) for s in strips]),
    ]
    if predictor == 2:
        tags.append((317, 3, 1, [2]))
    tags.sort()
    hdr = b"II*\x00" + struct.pack("<I", 8)
    ifd_sz = 2 + 12 * len(tags) + 4
    # layout: header(8) + IFD + out-of-line arrays + strips
    extra = bytearray()
    extra_base = 8 + ifd_sz

    def arr_bytes(typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        return struct.pack("<" + str(len(vals)) + fmt, *vals)

    entries = []
    # first pass: compute where strips start (need arrays length)
    pending = []
    for tag, typ, cnt, vals in tags:
        size = {3: 2, 4: 4}[typ] * cnt
        if size > 4 and tag != 273:
            pending.append((tag, len(arr_bytes(typ, vals))))
        elif tag == 273 and cnt * 4 > 4:
            pending.append((tag, cnt * 4))
    arrays_sz = sum(s for _, s in pending)
    strips_base = extra_base + arrays_sz
    offs = []
    cur = strips_base
    for s in strips:
        offs.append(cur)
        cur += len(s)
    for tag, typ, cnt, vals in tags:
        if tag == 273:
            vals = offs
            typ = 4
        size = {3: 2, 4: 4}[typ] * cnt
        if size <= 4:
            packed = arr_bytes(typ, vals)
            packed += b"\x00" * (4 - len(packed))
            entries.append(struct.pack("<HHI", tag, typ, cnt) + packed)
        else:
            entries.append(
                struct.pack("<HHII", tag, typ, cnt, extra_base + len(extra))
            )
            extra += arr_bytes(typ, vals)
    ifd = struct.pack("<H", len(tags)) + b"".join(entries) + b"\x00" * 4
    return hdr + ifd + bytes(extra) + b"".join(strips)


def _luma(rgb):
    rgb = rgb.astype(np.int64)
    return (
        (299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]) // 1000
    ).astype(np.uint8)


@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
def test_gray8_compressions(comp):
    rng = np.random.default_rng(comp)
    img = rng.integers(0, 256, (21, 33), np.uint8)
    data = _write_tiff(img, comp=comp)
    out = decode_tiff_gray(data)
    assert out is not None and np.array_equal(out, img)


def test_gray8_low_entropy_lzw():
    # long runs force LZW table growth through width changes
    img = np.zeros((64, 200), np.uint8)
    img[::2] = 85
    img[:, ::7] = 170
    out = decode_tiff_gray(_write_tiff(img, comp=5))
    assert np.array_equal(out, img)


def _pack_codes(codes: list[tuple[int, int]]) -> bytes:
    acc = nbits = 0
    out = bytearray()
    for code, wd in codes:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    return bytes(out + (bytes([(acc << (8 - nbits)) & 0xFF]) if nbits else b""))


def test_lzw_width_change_at_511_pinned():
    """Bytes 0..255 share no pair, so the stream is all literals: the
    entry made after literal 253 is 511, which fills 9 bits, so
    literals 254, 255 and EOI go out at 10 bits (TIFF 6.0 §13)."""
    vector = _pack_codes(
        [(256, 9)] + [(v, 9) for v in range(254)]
        + [(254, 10), (255, 10), (257, 10)]
    )
    assert _lzw_encode(bytes(range(256))) == vector
    img = np.arange(256, dtype=np.uint8).reshape(1, 256)
    assert np.array_equal(decode_tiff_gray(_write_tiff(img, comp=5)), img)


def test_lzw_crosses_every_width_and_clear():
    # ~6k random bytes grow the table past 1023 and 2047 and refill it
    img = np.random.default_rng(5).integers(0, 256, (80, 80), np.uint8)
    assert np.array_equal(decode_tiff_gray(_write_tiff(img, comp=5)), img)


def test_lzw_strip_contract():
    """A strip decodes to exactly the bytes it is expected to hold:
    longer output is cut, a short or corrupt strip is None."""
    from two_tier_document_parser_spark.ccitt import _tiff_decompress

    raw = np.random.default_rng(6).integers(0, 256, 900, np.uint8).tobytes()
    strip = _lzw_encode(raw)
    assert _tiff_decompress(strip, 900, 5) == raw
    assert _tiff_decompress(strip, 600, 5) == raw[:600]
    assert _tiff_decompress(strip[: len(strip) // 2], 900, 5) is None
    assert _tiff_decompress(_pack_codes([(256, 9), (300, 9)]), 1, 5) is None


def test_multi_strip():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (37, 19), np.uint8)
    for comp in (1, 5, 32773):
        out = decode_tiff_gray(
            _write_tiff(img, comp=comp, rows_per_strip=8)
        )
        assert np.array_equal(out, img), comp


def test_predictor_horizontal():
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (9, 40), np.uint8)
    out = decode_tiff_gray(_write_tiff(img, comp=5, predictor=2))
    assert np.array_equal(out, img)
    rgb = rng.integers(0, 256, (7, 11, 3), np.uint8)
    out = decode_tiff_gray(
        _write_tiff(rgb, spp=3, comp=8, predictor=2, photometric=2)
    )
    assert np.array_equal(out, _luma(rgb))


def test_rgb_luma():
    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (12, 9, 3), np.uint8)
    out = decode_tiff_gray(_write_tiff(rgb, spp=3, comp=1, photometric=2))
    assert np.array_equal(out, _luma(rgb))


def test_bilevel_both_photometrics():
    rng = np.random.default_rng(4)
    bits = rng.integers(0, 2, (15, 29), np.uint8)
    # photometric 0 (WhiteIsZero): 1 = black = 0 in the gray map
    out0 = decode_tiff_gray(_write_tiff(bits, depth=1, comp=1, photometric=0))
    assert np.array_equal(out0, np.where(bits == 1, 0, 255))
    out1 = decode_tiff_gray(_write_tiff(bits, depth=1, comp=1, photometric=1))
    assert np.array_equal(out1, np.where(bits == 1, 255, 0))
    # packbits over bilevel rows
    outp = decode_tiff_gray(
        _write_tiff(bits, depth=1, comp=32773, photometric=0)
    )
    assert np.array_equal(outp, out0)


def test_gray8_inverted_photometric():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (6, 8), np.uint8)
    out = decode_tiff_gray(_write_tiff(img, comp=1, photometric=0))
    assert np.array_equal(out, 255 - img)


def test_g4_still_routed_to_ccitt_decoder():
    rng = np.random.default_rng(6)
    bits = (rng.integers(0, 5, (18, 40)) == 0).astype(np.uint8)
    data = tiff_wrap_g4(bits)
    assert decode_tiff_gray(data) is None  # compression 4 not claimed
    assert decode_tiff_g4(data) is not None


def test_garbage_safety():
    assert decode_tiff_gray(b"") is None
    assert decode_tiff_gray(b"II*\x00") is None
    full = _write_tiff(np.full((10, 10), 7, np.uint8), comp=5)
    rng = np.random.default_rng(7)
    for cut in (6, 12, len(full) // 2, len(full) - 2):
        r = decode_tiff_gray(full[:cut])
        assert r is None or isinstance(r, np.ndarray)
    buf = bytearray(full)
    for _ in range(200):
        i = int(rng.integers(4, len(buf)))
        buf[i] ^= 1 << int(rng.integers(0, 8))
        r = decode_tiff_gray(bytes(buf))
        assert r is None or isinstance(r, np.ndarray)
        buf = bytearray(full)


def _write_tiff_tiled(samples, depth=8, spp=1, comp=1, photometric=None,
                      predictor=1, tw=16, th=16):
    """Tiled-layout TIFF writer (tags 322-325): tiles in raster
    order, edge tiles padded to (th, tw)."""
    h, w = samples.shape[:2]
    if photometric is None:
        photometric = 1
    across = (w + tw - 1) // tw
    down = (h + th - 1) // th
    trb = (tw * depth * spp + 7) // 8
    tiles = []
    for ty in range(down):
        for tx in range(across):
            pad_shape = (th, tw) + samples.shape[2:]
            tile = np.zeros(pad_shape, samples.dtype)
            sub = samples[ty * th : ty * th + th, tx * tw : tx * tw + tw]
            tile[: sub.shape[0], : sub.shape[1]] = sub
            if depth == 1:
                raw = np.packbits(
                    tile.reshape(th, tw), axis=1
                )[:, :trb].tobytes()
            elif predictor == 2:
                d = tile.reshape(th, tw, spp).astype(np.int32)
                diff = d.copy()
                diff[:, 1:] = (d[:, 1:] - d[:, :-1]) % 256
                raw = diff.astype(np.uint8).tobytes()
            else:
                raw = tile.astype(np.uint8).tobytes()
            if comp == 1:
                tiles.append(raw)
            elif comp == 5:
                tiles.append(_lzw_encode(raw))
            elif comp == 32773:
                tiles.append(_packbits_encode(raw))
            else:
                tiles.append(zlib.compress(raw))
    tags = [
        (256, 3, 1, [w]), (257, 3, 1, [h]),
        (258, 3, spp, [depth] * spp), (259, 3, 1, [comp]),
        (262, 3, 1, [photometric]), (277, 3, 1, [spp]),
        (322, 3, 1, [tw]), (323, 3, 1, [th]),
        (324, 4, len(tiles), None),
        (325, 4, len(tiles), [len(t) for t in tiles]),
    ]
    if predictor == 2:
        tags.append((317, 3, 1, [2]))
    tags.sort()
    hdr = b"II*\x00" + struct.pack("<I", 8)
    ifd_sz = 2 + 12 * len(tags) + 4
    extra = bytearray()
    extra_base = 8 + ifd_sz
    def arr_bytes(typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        return struct.pack("<" + str(len(vals)) + fmt, *vals)
    pending_sz = 0
    for tag, typ, cnt, vals in tags:
        size = {3: 2, 4: 4}[typ] * cnt
        if size > 4:
            pending_sz += (cnt * 4) if tag == 324 else size
    tiles_base = extra_base + pending_sz
    offs = []
    cur = tiles_base
    for t in tiles:
        offs.append(cur)
        cur += len(t)
    entries = []
    for tag, typ, cnt, vals in tags:
        if tag == 324:
            vals = offs
            typ = 4
        size = {3: 2, 4: 4}[typ] * cnt
        if size <= 4:
            packed = arr_bytes(typ, vals)
            packed += b"\x00" * (4 - len(packed))
            entries.append(struct.pack("<HHI", tag, typ, cnt) + packed)
        else:
            entries.append(
                struct.pack("<HHII", tag, typ, cnt, extra_base + len(extra))
            )
            extra += arr_bytes(typ, vals)
    ifd = struct.pack("<H", len(tags)) + b"".join(entries) + b"\x00" * 4
    return hdr + ifd + bytes(extra) + b"".join(tiles)


@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
def test_tiled_gray8(comp):
    rng = np.random.default_rng(comp + 100)
    img = rng.integers(0, 256, (37, 45), np.uint8)  # partial edge tiles
    out = decode_tiff_gray(_write_tiff_tiled(img, comp=comp, tw=16, th=16))
    assert out is not None and np.array_equal(out, img)


def test_tiled_rgb_predictor():
    rng = np.random.default_rng(200)
    rgb = rng.integers(0, 256, (20, 27, 3), np.uint8)
    out = decode_tiff_gray(
        _write_tiff_tiled(rgb, spp=3, comp=8, predictor=2,
                          photometric=2, tw=16, th=8)
    )
    assert np.array_equal(out, _luma(rgb))


def test_tiled_bilevel():
    rng = np.random.default_rng(201)
    bits = rng.integers(0, 2, (19, 50), np.uint8)
    out = decode_tiff_gray(
        _write_tiff_tiled(bits, depth=1, comp=32773, photometric=0,
                          tw=24, th=8)
    )
    assert np.array_equal(out, np.where(bits == 1, 0, 255))
