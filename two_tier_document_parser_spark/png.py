"""Minimal from-scratch PNG codec (struct + zlib).

The reference's most visible output is the base64 PNG crop on every
ImageData (accurate/service.py:135-139,172-186, via PIL). No imaging
library exists in this sandbox, but PNG itself is a public, simple
container — signature, IHDR, zlib IDAT, IEND, each chunk CRC32'd —
so the engine writes REAL 8-bit grayscale PNGs for its artifact
payloads and reads real dimensions back out of IHDR, replacing the
round-1 hash stub for the image path.

The artifact path a request runs (`artifact_png`: `render_crop` plus
the writer) is standard library only; the raster decoders,
`crop_from_raster` and `encode_png_gray` work on numpy arrays and
import numpy where they use it. Both encoders share one chunk writer,
`_png_gray`.

Without rasterized page pixels (SURVEY §2.1 O9: box geometry replaces
pixels by design), the "crop" content is a deterministic procedural
raster seeded by (asset ref, bbox): stable across runs, partitions,
and machines — the same determinism contract as every other output.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"
MAX_CROP_SIDE = 64


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_gray(w: int, h: int, scanlines: bytes) -> bytes:
    """The one PNG writer: `h` filter-0 scanlines (a 0 byte, then `w`
    gray samples each) -> 8-bit grayscale PNG bytes."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_gray(pixels: np.ndarray) -> bytes:
    """(h, w) uint8 numpy array -> 8-bit grayscale PNG bytes."""
    import numpy as np

    h, w = pixels.shape
    raw = np.zeros((h, w + 1), dtype=np.uint8)
    raw[:, 1:] = pixels
    return _png_gray(w, h, raw.tobytes())


def luma_bt601(r, g, b):
    """Integer ITU-R BT.601 luma of integer R, G, B sample arrays:
    (299 R + 587 G + 114 B) // 1000. Every codec that turns color into
    the engine's grayscale plane (PNG, GIF, WebP, TIFF, JPEG, JPEG 2000
    and raw PDF DeviceRGB samples) goes through
    this one formula; the caller picks the integer width and casts."""
    return (299 * r + 587 * g + 114 * b) // 1000


def png_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from IHDR — a REAL header decode — or None if
    the payload is not a PNG."""
    if len(data) < 24 or data[:8] != PNG_SIG or data[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", data[16:24])
    return w, h


# Adam7 pass layout: (x0, y0, dx, dy) per the PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)

# color type -> channel count
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray | None:
    """Unfilter `h` scanlines of `w*bpp` bytes each (PNG filter types
    0-4, spec §9), `bpp` = filter-unit bytes per pixel. Returns
    (h, w*bpp) uint8 or None when the buffer is short."""
    import numpy as np

    rb = w * bpp
    stride = rb + 1
    if len(raw) < h * stride:
        return None
    out = np.zeros((h, rb), np.int32)
    prev = np.zeros(rb, np.int32)
    for r in range(h):
        ft = raw[r * stride]
        row = np.frombuffer(
            raw[r * stride + 1 : r * stride + 1 + rb], np.uint8
        ).astype(np.int32)
        if ft == 1:  # Sub: per-lane prefix sum over the bpp offset
            row = row.reshape(w, bpp).cumsum(axis=0).reshape(rb) & 0xFF
        elif ft == 2:  # Up
            row = (row + prev) & 0xFF
        elif ft == 3:  # Average (left depends on current row: loop)
            row = row.reshape(w, bpp)
            pv = prev.reshape(w, bpp)
            left = np.zeros(bpp, np.int32)
            for j in range(w):
                row[j] = (row[j] + ((left + pv[j]) >> 1)) & 0xFF
                left = row[j]
            row = row.reshape(rb)
        elif ft == 4:  # Paeth
            row = row.reshape(w, bpp)
            pv = prev.reshape(w, bpp)
            left = np.zeros(bpp, np.int32)
            ul = np.zeros(bpp, np.int32)
            for j in range(w):
                b = pv[j]
                p = left + b - ul
                pa, pb, pc = abs(p - left), abs(p - b), abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, ul)
                )
                row[j] = (row[j] + pred) & 0xFF
                left = row[j]
                ul = b
            row = row.reshape(rb)
        elif ft != 0:
            return None
        out[r] = row
        prev = row
    return out.astype(np.uint8)


def _unpack_bits(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(h, rowbytes) sub-byte samples -> (h, w) int32 sample values
    (MSB-first packing per PNG §7.2)."""
    import numpy as np

    h = rows.shape[0]
    bits = np.unpackbits(rows, axis=1)
    per = bits.shape[1] // depth
    vals = np.zeros((h, per), np.int32)
    for k in range(depth):
        vals = (vals << 1) | bits[:, k::depth][:, :per]
    return vals[:, :w]


def _samples_to_gray(
    px: np.ndarray,
    ctype: int,
    depth: int,
    palette: np.ndarray | None,
    trns: bytes | None,
) -> np.ndarray | None:
    """(h, w[, channels]) raw samples -> (h, w) uint8 luma. RGB via
    integer BT.601; alpha composites over white; tRNS per spec
    §11.3.2 (palette alpha; for gray/RGB, pixels equal to the 16-bit
    transparent sample turn white); 16-bit uses the high byte."""
    import numpy as np

    if ctype == 3:
        if palette is None or not len(palette):
            return None
        idx = np.clip(px, 0, len(palette) - 1)
        rgb = palette[idx].astype(np.int32)
        g = luma_bt601(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        if trns:
            a = np.frombuffer(trns, np.uint8).astype(np.int32)
            alpha = np.where(px < len(a), np.take(a, np.minimum(px, len(a) - 1)), 255)
            g = (alpha * g + (255 - alpha) * 255 + 127) // 255
        return g.astype(np.uint8)
    clear = None
    nkey = 1 if ctype == 0 else 3
    if ctype in (0, 2) and trns and len(trns) >= 2 * nkey:
        key = np.frombuffer(trns[: 2 * nkey], ">u2").astype(np.int32)
        clear = px == key[0] if ctype == 0 else (px == key).all(axis=-1)
    if depth == 16:
        px = px >> 8
    # grayscale sample scaling to 8-bit
    if ctype in (0, 4):
        g = px[..., 0] if px.ndim == 3 else px
        if depth < 8:
            g = g * (255 // ((1 << depth) - 1))
    else:  # 2 / 6: RGB(A)
        r, gg, b = px[..., 0], px[..., 1], px[..., 2]
        g = luma_bt601(r, gg, b)
    if ctype in (4, 6):
        a = px[..., -1]
        g = (a * g + (255 - a) * 255 + 127) // 255
    if clear is not None:
        g = np.where(clear, 255, g)
    return g.astype(np.uint8)


def decode_png_gray(data: bytes) -> np.ndarray | None:
    """PNG bytes -> (h, w) uint8 grayscale, or None when the payload
    is not a decodable PNG. Full spec coverage for still images:
    color types 0/2/3/4/6, bit depths 1/2/4/8/16 (16-bit reads the
    high byte), Adam7 interlace, PLTE + tRNS (alpha, transparent
    palette entries and the gray/RGB transparent sample composite over
    white — the engine's document convention), scanline filters 0-4.
    Color converts to integer BT.601 luma, same as gif.py, so foreign web rasters decode — not
    just this module's own grayscale filter-0 output."""
    import numpy as np

    if not isinstance(data, (bytes, bytearray)) or data[:8] != PNG_SIG:
        return None
    i, w, h = 8, None, None
    depth = ctype = interlace = 0
    palette = None
    trns = None
    idat = bytearray()
    n = len(data)
    while i + 8 <= n:
        ln = int.from_bytes(data[i : i + 4], "big")
        tag = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + ln]
        i += 12 + ln
        if tag == b"IHDR":
            if len(payload) < 13:
                return None
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload[:13]
            )
            if ctype not in _CHANNELS or interlace > 1:
                return None
            if depth not in (1, 2, 4, 8, 16) or (
                depth < 8 and ctype not in (0, 3)
            ) or (depth == 16 and ctype == 3):
                return None
        elif tag == b"PLTE":
            palette = np.frombuffer(
                payload[: 3 * (len(payload) // 3)], np.uint8
            ).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = bytes(payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if not w or not h:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    ch = _CHANNELS[ctype]
    sampbytes = 2 if depth == 16 else 1

    def _depass(raw: bytes, pw: int, ph: int) -> np.ndarray | None:
        """One (sub)image's scanlines -> (ph, pw) or (ph, pw, ch)."""
        if depth >= 8:
            rows = _unfilter(raw, pw, ph, ch * sampbytes)
            if rows is None:
                return None
            px = rows.reshape(ph, pw, ch, sampbytes).astype(np.int32)
            # 16-bit samples stay whole until tRNS has been matched
            px = (px[..., 0] << 8) | px[..., 1] if depth == 16 else px[..., 0]
            return px if ch > 1 else px[..., 0]
        rb = (pw * depth + 7) // 8
        rows = _unfilter(raw, rb, ph, 1)
        if rows is None:
            return None
        return _unpack_bits(rows, pw, depth)

    def _passlen(pw: int, ph: int) -> int:
        if depth >= 8:
            return ph * (1 + pw * ch * sampbytes)
        return ph * (1 + (pw * depth + 7) // 8)

    if interlace == 0:
        px = _depass(raw, w, h)
        if px is None:
            return None
    else:  # Adam7
        full = np.zeros((h, w) if ch == 1 else (h, w, ch), np.int32)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = _depass(raw[off:], pw, ph)
            if sub is None:
                return None
            off += _passlen(pw, ph)
            full[y0::dy, x0::dx] = sub
        px = full
    return _samples_to_gray(px, ctype, depth, palette, trns)


# default page geometry for bbox -> raster coordinate scaling (the
# writer's MediaBox, pdf_io/render_pdf: 612x792 points)
PAGE_W_PT = 612
PAGE_H_PT = 792


def crop_from_raster(
    raster: bytes, bbox: list[int] | None
) -> bytes | None:
    """Pixel-TRUE crop (reference accurate/service.py:177): slice the
    decoded page raster by the bbox (page points -> raster pixels,
    y-flip from PDF bottom-left origin to image top-left), re-encode
    as PNG. None when the raster doesn't decode or bbox is absent —
    the caller falls back to the procedural artifact_png."""
    import numpy as np

    if not bbox or len(bbox) != 4:
        return None
    page = decode_png_gray(raster)
    if page is None:
        return None
    ph, pw = page.shape
    x0 = max(0, min(pw - 1, int(bbox[0]) * pw // PAGE_W_PT))
    x1 = max(x0 + 1, min(pw, -(-int(bbox[2]) * pw // PAGE_W_PT)))
    # PDF y grows upward; image rows grow downward
    y_top = max(0, min(ph - 1, (PAGE_H_PT - int(bbox[3])) * ph // PAGE_H_PT))
    y_bot = max(
        y_top + 1, min(ph, -(-(PAGE_H_PT - int(bbox[1])) * ph // PAGE_H_PT))
    )
    return encode_png_gray(np.ascontiguousarray(page[y_top:y_bot, x0:x1]))


def crop_size(bbox: list[int] | None) -> tuple[int, int]:
    """Pixel size of a bbox crop, clamped to [1, MAX_CROP_SIDE] (the
    reference caps crops by page raster scale; we cap by side)."""
    if not bbox or len(bbox) != 4:
        return 16, 16
    w = max(1, min(int(bbox[2]) - int(bbox[0]), MAX_CROP_SIDE))
    h = max(1, min(int(bbox[3]) - int(bbox[1]), MAX_CROP_SIDE))
    return w, h


# _SHIFT[s] maps a gray value v < 251 to (v + s) mod 251 (bytes.translate
# tables; values 251..255 never occur)
_RING = bytes(range(251)) * 2
_SHIFT = [_RING[s : s + 251] + bytes(5) for s in range(251)]


def render_crop(seed: str, w: int, h: int) -> list[bytes]:
    """Deterministic raster from a string seed: `h` rows of `w` gray
    bytes, a hash-seeded affine gradient, pixel (x, y) =
    (x·a + y·b + c) mod 251 — pure function of (seed, w, h). Row y is
    row 0 shifted by (y·b) mod 251."""
    d = hashlib.sha256(seed.encode("utf-8")).digest()
    a, b, c = d[0] | 1, d[1] | 1, d[2]
    row0 = bytes([(x * a + c) % 251 for x in range(w)])
    return [row0.translate(_SHIFT[y * b % 251]) for y in range(h)]


def artifact_png(seed: str, bbox: list[int] | None) -> bytes:
    """The engine's 'crop': deterministic PNG for an image artifact."""
    w, h = crop_size(bbox)
    return _png_gray(w, h, b"\0" + b"\0".join(render_crop(seed, w, h)))
