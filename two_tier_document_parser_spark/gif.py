"""GIF (GIF87a/GIF89a) decoder + minimal encoder — the palette-LZW
web-image leg of the codec suite. Reference crops real pixels for
every embedded image via PyMuPDF (accurate/service.py:177); this is
the from-scratch equivalent for GIF payloads, like jpeg.py / png.py /
ccitt.py / jbig2.py / jpeg2000.py for theirs. Built from the public
GIF89a specification (CompuServe, 1990) and ISO/IEC 11544's LZW
ancestry; no external codec exists in this sandbox.

Scope (honest, like the other codecs):
- GIF87a and GIF89a signatures; logical screen descriptor; global
  and local color tables (any 2..256 size).
- Variable-code-size LZW decompression (the GIF flavor: clear/EOI
  codes, code width grows 3..12 bits, deferred clear) through
  `bitstream.lzw_decode`, the LZW that PDF and TIFF use too.
- Row interlacing (the 4-pass 8/8-8/4-2 scheme).
- Graphic Control Extension: transparency index — transparent pixels
  composite over white (255), matching the engine's document
  convention (white page background, like ccitt/jbig2 map 0=black).
- Animation: one block walk (_images) yields every image descriptor;
  decode_gif_frames composites them onto the logical screen (disposal
  methods 0-3), decode_gif_gray takes the first one (the still-image
  identity of the asset).
- Extensions (comment/plain-text/application) are skipped by their
  sub-block chain, never parsed.

Output is grayscale uint8 (h, w) via png.luma_bt601 (integer ITU-R
BT.601), so GIF payloads compose with png.encode_png_gray in the
dhash media kernel exactly like the other codecs' outputs.

Shape of the work: LZW code emission is inherently sequential (each
code extends the dictionary the next code indexes), so the symbol
loop is Python; palette application and luma are numpy-vectorized.
The codec runs inside the existing Arrow-batched mapInPandas media
kernels: Spark-side parallelism is per-payload, never a shuffle.
"""

from __future__ import annotations

import struct
from itertools import islice
from typing import Iterator

import numpy as np

from .bitstream import LSBWriter, lzw_decode
from .png import luma_bt601
from .spec import MAX_PIXELS

_SIGS = (b"GIF87a", b"GIF89a")

# interlace pass layout: (first row, row step) per the GIF89a spec
# appendix E — pass 1 rows 0,8,16..., pass 2 rows 4,12..., pass 3
# rows 2,6,10..., pass 4 rows 1,3,5...
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the logical screen descriptor — a REAL
    header decode — or None if the payload is not a GIF."""
    if len(data) < 10 or data[:6] not in _SIGS:
        return None
    w = int.from_bytes(data[6:8], "little")
    h = int.from_bytes(data[8:10], "little")
    if not w or not h:
        return None
    return w, h


def _skip_subblocks(data: bytes, i: int) -> int:
    """Advance past a sub-block chain (len-prefixed blocks, 0 ends)."""
    n = len(data)
    while i < n:
        ln = data[i]
        i += 1 + ln
        if ln == 0:
            return i
    return n


def _frame_luma_and_alpha(
    arr: np.ndarray, palette: np.ndarray, transparent: int
) -> tuple[np.ndarray, np.ndarray]:
    """Index array -> (luma uint8, opaque-mask bool)."""
    pal = np.clip(arr, 0, len(palette) - 1)
    rgb = palette[pal].astype(np.int32)
    gray = luma_bt601(rgb[..., 0], rgb[..., 1], rgb[..., 2])
    opaque = (
        arr != transparent
        if 0 <= transparent < len(palette)
        else np.ones(arr.shape, bool)
    )
    return gray.astype(np.uint8), opaque


def _images(data: bytes) -> Iterator[tuple]:
    """The one GIF block walk: yield (left, top, gray, opaque,
    disposal) per image descriptor in stream order — the frame's
    pixels as luma, its transparency mask and the disposal method of
    its Graphic Control Extension. Stops at the trailer or the first
    malformed block. A generator, so a caller holding the frames it
    wants parses no further."""
    if not isinstance(data, (bytes, bytearray)) or bytes(data[:6]) not in _SIGS:
        return
    data = bytes(data)
    n = len(data)
    if n < 13:
        return
    i = 13
    gct = None
    if data[10] & 0x80:
        size = 3 * (2 << (data[10] & 0x07))
        if i + size > n:
            return
        gct = np.frombuffer(data[i : i + size], np.uint8).reshape(-1, 3)
        i += size
    transparent = -1
    disposal = 0
    while i < n:
        if data[i] == 0x21:  # extension
            if i + 2 > n:
                return
            j = i + 2
            if data[i + 1] == 0xF9 and j < n and data[j] >= 4 and j + 5 <= n:
                # graphic control: disposal method + transparency index
                packed = data[j + 1]
                disposal = (packed >> 2) & 0x07
                transparent = data[j + 4] if packed & 0x01 else -1
            i = _skip_subblocks(data, j)
            continue
        if data[i] != 0x2C or i + 10 > n:  # trailer or not a descriptor
            return
        left, top, w, h = struct.unpack_from("<4H", data, i + 1)
        flags = data[i + 9]
        i += 10
        palette = gct
        if flags & 0x80:
            size = 3 * (2 << (flags & 0x07))
            if i + size > n:
                return
            palette = np.frombuffer(data[i : i + size], np.uint8).reshape(-1, 3)
            i += size
        if palette is None or not w or not h or i >= n or w * h > MAX_PIXELS:
            return
        min_code = data[i]
        i += 1
        chunks = []
        while i < n:
            ln = data[i]
            i += 1
            if ln == 0:
                break
            chunks.append(data[i : i + ln])
            i += ln
        # GIF89a allows minimum code sizes 2..8: every root code is a
        # palette index and must fit the byte it decodes to
        if not 2 <= min_code <= 8:
            return
        try:
            idx = lzw_decode(b"".join(chunks), min_code, lsb=True, early=0,
                             limit=w * h)
        except ValueError:
            return
        # a stream that ends early pads with index 0, as browsers do
        idx = idx[: w * h].ljust(w * h, b"\0")
        arr = np.frombuffer(idx, np.uint8).reshape(h, w)
        if flags & 0x40:  # interlaced: rows were emitted in pass order
            order = [y for f, s in _INTERLACE for y in range(f, h, s)]
            arr = arr[np.argsort(order)]
        gray, opaque = _frame_luma_and_alpha(arr, palette, transparent)
        yield left, top, gray, opaque, disposal
        transparent = -1
        disposal = 0


def decode_gif_frames(
    data: bytes, max_frames: int = 64
) -> list[np.ndarray] | None:
    """GIF bytes -> list of (sh, sw) uint8 grayscale CANVAS snapshots,
    one per animation frame (up to `max_frames`), or None when the
    payload is not a decodable GIF.

    Real animation semantics per the GIF89a spec: each frame's rect
    (left, top, w, h) composites onto the logical-screen canvas with
    its transparency mask; the Graphic Control disposal method then
    decides what the NEXT frame draws over — 0/1 leave in place,
    2 restore the rect to background (white, the engine's document
    convention), 3 restore the previous canvas. This is the real
    frame-sampling path for the one animated format the sandbox can
    decode; multimodal.sample_frames uses it before falling back to
    the byte-chunk stub for undecodable media."""
    dims = gif_dims(data) if isinstance(data, (bytes, bytearray)) else None
    if dims is None or dims[0] * dims[1] > MAX_PIXELS:
        return None
    sw, sh = dims
    canvas = np.full((sh, sw), 255, np.uint8)
    frames: list[np.ndarray] = []
    for left, top, gray, opaque, disposal in islice(
        _images(data), max(max_frames, 0)
    ):
        h, w = gray.shape
        # clip the frame rect to the canvas
        y1 = min(top + h, sh)
        x1 = min(left + w, sw)
        if top < sh and left < sw:
            prev = canvas.copy() if disposal == 3 else None
            region = canvas[top:y1, left:x1]
            m = opaque[: y1 - top, : x1 - left]
            region[m] = gray[: y1 - top, : x1 - left][m]
            frames.append(canvas.copy())
            if disposal == 2:
                canvas[top:y1, left:x1] = 255
            elif prev is not None:
                canvas = prev
        else:
            frames.append(canvas.copy())
    return frames if frames else None


def decode_gif_gray(data: bytes) -> np.ndarray | None:
    """GIF bytes -> (h, w) uint8 grayscale of the first image, or None
    when the payload is not a decodable GIF: the first frame of the
    walk decode_gif_frames composites, at the image's own size, with
    transparent pixels over white."""
    for _left, _top, gray, opaque, _disposal in _images(data):
        return np.where(opaque, gray, 255).astype(np.uint8)
    return None


# ---------------------------------------------------------------------------
# minimal encoder — fixture generation + synth payloads (grayscale
# palette, optional interlace). Independent of the decoder's tables:
# it builds LZW codes from a dict keyed by byte strings (packed by
# `bitstream.LSBWriter`), so decode(encode(x)) == x is a real
# two-implementation check.
# ---------------------------------------------------------------------------


def encode_gif_gray(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w) uint8 grayscale -> GIF89a bytes with a 256-entry gray
    palette (index i -> rgb(i,i,i)), single frame."""
    pixels = np.asarray(pixels, np.uint8)
    h, w = pixels.shape
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # GCT present, 256 entries, 8-bit
    for v in range(256):
        out += bytes([v, v, v])
    out += bytes([0x2C, 0, 0, 0, 0])  # image descriptor at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0x00])
    if interlace:
        rows = []
        for first, step in _INTERLACE:
            rows.extend(range(first, h, step))
        src = pixels[np.asarray(rows, np.int32)].tobytes()
    else:
        src = pixels.tobytes()

    min_code = 8
    out += bytes([min_code])
    clear = 1 << min_code
    eoi = clear + 1
    table: dict[bytes, int] = {bytes([v]): v for v in range(clear)}
    next_code = eoi + 1
    width = min_code + 1
    bw = LSBWriter()
    bw.write(clear, width)
    run = b""
    for byte in src:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        bw.write(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            bw.write(clear, width)
            table = {bytes([v]): v for v in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        run = bytes([byte])
    if run:
        bw.write(table[run], width)
    bw.write(eoi, width)
    bits = bw.getvalue()
    for i in range(0, len(bits), 255):
        blk = bits[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += bytes([0, 0x3B])
    return bytes(out)
