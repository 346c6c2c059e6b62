"""Byte-identity pins for the image codecs' bit-level paths.

`tests/fixtures/codec_identity.json` holds, for every decoder input of
`corpus()`, the sha256 of the decoded array (dtype, shape and bytes),
`None` for a `None` result, or `!` plus the exception class name when
the decoder raised; and for every package encoder call, the sha256 of
its output bytes. The inputs are:

- GIF, plain and interlaced (the package encoder, plus hand-built
  files with minimum code sizes 2..7 through the LZW encoder below);
- TIFF LZW (with and without the horizontal predictor) and PackBits;
- PDF LZWDecode streams with EarlyChange 0 and 1 through
  `pdf_io._apply_filters`;
- CCITT G3 1-D, G3 2-D and G4, and JBIG2 MMR regions;
- JPEG baseline (with restart intervals) and progressive;
- WebP lossless (literal, backward-reference, color-cache, predictor
  and color-indexed streams).

Each input is pinned whole, cut in half, and with seeded bit flips.
The code must reproduce every pin.

Regenerate (only when a codec's output is meant to change) with
`python tests/test_codec_identity.py`, which writes the fixture from
whichever package is first on the import path.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
from pathlib import Path

import numpy as np

FIXTURE = Path(__file__).parent / "fixtures" / "codec_identity.json"
FLIPS = 4


def lzw_encode(data: bytes, min_code: int = 8, lsb: bool = False,
               early: int = 1) -> bytes:
    """Test-side LZW compressor over a dict keyed by byte strings.
    `min_code` + 1 bits wide after each Clear, Clear = 1 << min_code,
    EOI = Clear + 1; codes pack LSB-first (GIF) or MSB-first
    (PDF/TIFF). The decoder's table runs one entry behind this one, so
    the width grows once `next_code + early - 1` reaches the next
    power of two, after the final code too (libtiff's LZWPostEncode),
    and EOI is written at the width the decoder then reads."""
    clear = 1 << min_code
    codes: list[tuple[int, int]] = []
    table: dict[bytes, int] = {}
    next_code = width = 0

    def reset() -> None:
        nonlocal table, next_code, width
        codes.append((clear, width or min_code + 1))
        table = {bytes([v]): v for v in range(clear)}
        next_code, width = clear + 2, min_code + 1

    def emit(code: int) -> None:
        nonlocal next_code, width
        codes.append((code, width))
        next_code += 1
        if next_code + early - 1 >= 1 << width and width < 12:
            width += 1

    reset()
    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        table[cand] = next_code
        emit(table[run])
        if next_code >= 4094:
            reset()
        run = bytes([byte])
    if run:
        emit(table[run])
    codes.append((clear + 1, width))
    out = bytearray()
    acc = nbits = 0
    for code, wd in codes:
        if lsb:
            acc |= code << nbits
        else:
            acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            if lsb:
                out.append(acc & 0xFF)
                acc >>= 8
            else:
                out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF if lsb else (acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _gif(idx: np.ndarray, min_code: int, interlace: bool = False) -> bytes:
    """One-frame GIF89a with a 2**min_code-entry gray palette around an
    LZW stream of `idx` (palette indices, rows in file order)."""
    h, w = idx.shape
    size = 1 << min_code
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF0 | (min_code - 1), 0, 0])
    for v in range(size):
        out += bytes([v * 255 // (size - 1)] * 3)
    out += b"\x2c" + bytes(4) + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0, min_code])
    body = lzw_encode(idx.tobytes(), min_code, lsb=True, early=0)
    for i in range(0, len(body), 255):
        out += bytes([len(body[i:i + 255])]) + body[i:i + 255]
    return bytes(out + b"\x00\x3b")


def _bilevel(rng: np.random.Generator, h: int, w: int, p: float) -> np.ndarray:
    return (rng.random((h, w)) < p).astype(np.uint8)


def corpus() -> list[tuple[str, str, bytes, dict]]:
    """(name, decoder, payload, decoder arguments) for each base input,
    before the cuts and flips `_variants` adds."""
    from test_jbig2 import generic_region_payload, page_info, seg, stream
    from test_jpeg import (
        _test_image,
        encode_gray_jpeg,
        encode_gray_jpeg_progressive,
    )
    from test_tiff_baseline import _write_tiff
    from test_webp import (
        encode_backref,
        encode_cache,
        encode_palette,
        encode_plain,
        encode_predictor,
    )

    from two_tier_document_parser_spark import ccitt, gif, webp

    rng = np.random.default_rng(15)
    out = []
    gray = rng.integers(0, 256, (23, 31), dtype=np.uint8)
    banded = np.zeros((40, 40), np.uint8)
    banded[::3] = 17
    big = rng.integers(0, 256, (72, 80), dtype=np.uint8)  # table resets
    for name, px in (("gray", gray), ("banded", banded), ("big", big)):
        for il in (False, True):
            out.append((f"gif_{name}_{'il' if il else 'plain'}", "gif",
                        gif.encode_gif_gray(px, interlace=il), {}))
    for mc in (2, 3, 5, 7):
        idx = rng.integers(0, 1 << mc, (19, 27), dtype=np.uint8)
        idx[5:9] = 1
        out.append((f"gif_min{mc}", "gif", _gif(idx, mc, interlace=mc == 3), {}))

    smooth = _test_image(24, 40, 3)
    rgb = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    out += [
        ("tiff_lzw_gray", "tiff", _write_tiff(smooth, comp=5), {}),
        ("tiff_lzw_pred_rgb", "tiff",
         _write_tiff(rgb, spp=3, comp=5, predictor=2, rows_per_strip=4), {}),
        ("tiff_lzw_random", "tiff",
         _write_tiff(rng.integers(0, 256, (64, 96), dtype=np.uint8),
                     comp=5), {}),
        ("tiff_packbits", "tiff", _write_tiff(smooth, comp=32773), {}),
        ("tiff_packbits_bilevel", "tiff",
         _write_tiff(_bilevel(rng, 11, 20, 0.4), depth=1, comp=32773), {}),
    ]

    text = bytes(rng.integers(0, 256, 3000, dtype=np.uint8)) + b"abcabc" * 400
    for early in (0, 1):
        out.append((f"pdf_lzw_early{early}", "pdf_lzw",
                     lzw_encode(text, early=early), {"early": early}))

    for name, pix in (("random", _bilevel(rng, 14, 70, 0.3)),
                      ("sparse", _bilevel(rng, 9, 1800, 0.01)),
                      ("tri", np.tri(12, 30, dtype=np.uint8))):
        h, w = pix.shape
        out += [
            (f"g4_{name}", "g4", ccitt.encode_g4(pix), {"columns": w, "rows": h}),
            (f"g4_{name}_open", "g4", ccitt.encode_g4(pix), {"columns": w}),
            (f"g3_1d_{name}", "g3_1d", ccitt.encode_g3_1d(pix),
             {"columns": w, "rows": h}),
            (f"g3_1d_{name}_eol", "g3_1d", ccitt.encode_g3_1d(pix, eol=True),
             {"columns": w}),
            (f"g3_1d_{name}_aligned", "g3_1d",
             ccitt.encode_g3_1d(pix, byte_align=True),
             {"columns": w, "rows": h, "byte_align": True}),
            (f"g3_2d_{name}", "g3_2d", ccitt.encode_g3_2d(pix, k=3),
             {"columns": w, "rows": h}),
            (f"g3_2d_{name}_open", "g3_2d", ccitt.encode_g3_2d(pix, k=2),
             {"columns": w}),
            (f"g3_2d_{name}_aligned", "g3_2d",
             ccitt.encode_g3_2d(pix, k=2, byte_align=True),
             {"columns": w, "rows": h, "byte_align": True}),
            (f"tiff_g4_{name}", "tiff", ccitt.tiff_wrap_g4(255 * (1 - pix)), {}),
        ]
    mmr = _bilevel(rng, 17, 45, 0.25)
    out.append(("jbig2_mmr", "jbig2", stream(
        seg(0, 48, 1, page_info(45, 17)),
        seg(1, 38, 1, generic_region_payload(mmr, mmr=True))), {}))

    img = _test_image(20, 28, 5)
    out += [
        ("jpeg_baseline", "jpeg", encode_gray_jpeg(img), {}),
        ("jpeg_restart", "jpeg", encode_gray_jpeg(img, restart=2), {}),
        ("jpeg_progressive", "jpeg", encode_gray_jpeg_progressive(img), {}),
    ]

    argb = np.zeros((6, 9, 4), np.uint8)
    argb[..., 0] = 255
    argb[..., 1:] = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    argb[2] = argb[1]
    refs, cache = set(), [None] * 16
    for pos, (a, r, g, b) in enumerate(argb.reshape(-1, 4).tolist()):
        v = (a << 24) | (r << 16) | (g << 8) | b
        slot = ((0x1E35A7BD * v) & 0xFFFFFFFF) >> 28
        if cache[slot] == v:
            refs.add(pos)
        cache[slot] = v
    out += [
        ("webp_package", "webp", webp.encode_webp_gray(gray[:7, :11]), {}),
        ("webp_plain", "webp", encode_plain(argb), {}),
        ("webp_backref", "webp", encode_backref(argb, [(18, 4, 9)]), {}),
        ("webp_cache", "webp", encode_cache(argb, refs), {}),
        ("webp_predictor", "webp", encode_predictor(argb, 11), {}),
    ]
    for n, wb in ((2, 3), (3, 2), (16, 1), (40, 0)):
        pal = [(255 if i else 0, *map(int, rng.integers(0, 256, 3)))
               for i in range(n)]
        idx = rng.integers(0, n, (5, 11))
        out.append((f"webp_palette{n}", "webp", encode_palette(idx, pal, wb), {}))
    return out


def _variants(name: str, payload: bytes, seed: int):
    """The payload whole, cut in half, `FLIPS` copies with one seeded
    bit flipped, and one with three flipped."""
    rng = random.Random(f"{seed}:{name}")
    yield "whole", payload
    yield "half", payload[: len(payload) // 2]
    for i in range(FLIPS + 1):
        b = bytearray(payload)
        for _ in range(3 if i == FLIPS else 1):
            bit = rng.randrange(8 * len(b))
            b[bit >> 3] ^= 1 << (bit & 7)
        yield f"flip{i}", bytes(b)


def decoders(pkg) -> dict:
    """Decoder name -> callable(payload, **arguments) over the codec
    modules of `pkg` (a package name, so another checkout's copy can
    be passed)."""
    import importlib

    mod = {m: importlib.import_module(f"{pkg}.{m}")
           for m in ("ccitt", "gif", "jbig2", "jpeg", "pdf_io", "webp")}

    def pdf_lzw(data, early):
        parms = {"Filter": "LZWDecode", "DecodeParms": {"EarlyChange": early}}
        return mod["pdf_io"]._apply_filters(data, parms, {})

    return {
        "gif": mod["gif"].decode_gif_gray,
        "tiff": mod["ccitt"].decode_tiff_gray,
        "pdf_lzw": pdf_lzw,
        "g4": mod["ccitt"].decode_g4,
        "g3_1d": mod["ccitt"].decode_g3_1d,
        "g3_2d": mod["ccitt"].decode_g3_2d,
        "jbig2": mod["jbig2"].decode_jbig2,
        "jpeg": mod["jpeg"].decode_jpeg,
        "webp": mod["webp"].decode_webp_gray,
    }


def digest(fn, payload: bytes, kw: dict):
    """sha256 of what `fn` returns (array or bytes), None, or
    `!ExceptionName` when it raised."""
    try:
        v = fn(payload, **kw)
    except Exception as e:  # noqa: BLE001 - the class is the pin
        return "!" + type(e).__name__
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        v = f"{v.dtype.str}{v.shape}".encode() + np.ascontiguousarray(v).tobytes()
    return hashlib.sha256(bytes(v)).hexdigest()


def inputs(seed: int = 0):
    """(key, decoder, payload, arguments) for every pinned decode."""
    for name, dec, payload, kw in corpus():
        for var, data in _variants(name, payload, seed):
            yield f"{name}/{var}", dec, data, kw


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def compute() -> dict:
    from two_tier_document_parser_spark import ccitt, gif, webp

    rng = np.random.default_rng(21)
    bil = _bilevel(rng, 13, 77, 0.3)
    px = rng.integers(0, 256, (17, 29), dtype=np.uint8)
    dec = decoders("two_tier_document_parser_spark")
    return {
        "decode": {key: digest(dec[d], data, kw)
                   for key, d, data, kw in inputs()},
        "encode": {
            "encode_g4": _sha(ccitt.encode_g4(bil)),
            "encode_g4_no_eofb": _sha(ccitt.encode_g4(bil, eofb=False)),
            "encode_g3_1d": _sha(ccitt.encode_g3_1d(bil)),
            "encode_g3_1d_eol_aligned": _sha(
                ccitt.encode_g3_1d(bil, eol=True, byte_align=True)),
            "encode_g3_2d_k1": _sha(ccitt.encode_g3_2d(bil, k=1)),
            "encode_g3_2d_k4_aligned": _sha(
                ccitt.encode_g3_2d(bil, k=4, byte_align=True)),
            "encode_gif_gray": _sha(gif.encode_gif_gray(px)),
            "encode_gif_gray_interlaced": _sha(
                gif.encode_gif_gray(px, interlace=True)),
            "encode_gif_gray_reset": _sha(gif.encode_gif_gray(
                rng.integers(0, 256, (90, 90), dtype=np.uint8))),
            "encode_webp_gray": _sha(webp.encode_webp_gray(px)),
        },
    }


def test_codec_outputs_match_pinned():
    pinned = json.loads(FIXTURE.read_text())
    got = compute()
    assert set(got["decode"]) == set(pinned["decode"])
    bad = {k: (got["decode"][k], v) for k, v in pinned["decode"].items()
           if got["decode"][k] != v}
    assert bad == {}
    assert got["encode"] == pinned["encode"]


def test_corpus_decodes_whole_inputs():
    """The pins are not vacuous: every whole input decodes."""
    pinned = json.loads(FIXTURE.read_text())["decode"]
    whole = {k: v for k, v in pinned.items() if k.endswith("/whole")}
    assert whole and all(v and not v.startswith("!") for v in whole.values())


if __name__ == "__main__":
    sys.path.append(str(Path(__file__).resolve().parents[1]))
    FIXTURE.write_text(json.dumps(compute(), indent=1) + "\n")
    print(f"wrote {FIXTURE}")
