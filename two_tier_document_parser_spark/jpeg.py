"""JPEG decoder built from the public ITU-T T.81 spec — no
PIL/libjpeg in this sandbox, and the reference's image crops are
overwhelmingly JPEG (accurate/service.py:177 via PyMuPDF). Round-3
verdict task #4 added baseline (SOF0); round-5 task #3 adds
PROGRESSIVE (SOF2) — the bulk of web JPEGs — plus extended
sequential (SOF1), all through ONE generic scan engine.

Scope (§8, Annex F sequential + Annex G progressive):
- SOF0/SOF1 (sequential huffman) and SOF2 (progressive huffman);
  8-bit samples everywhere, plus 12-bit samples for SOF1/SOF2 (the
  only frames T.81 table B.2 allows them in — level shift 2048,
  range 0..4095, downscaled to the engine's 8-bit output by
  dropping the 4 low bits after color conversion),
- grayscale (1 component) and YCbCr (3 components) with arbitrary
  sampling factors (4:4:4, 4:2:0, 4:2:2 all fall out of the general
  Hi/Vi handling),
- progressive spectral selection (Ss/Se bands) + successive
  approximation (Ah/Al bit planes): first and refinement DC scans
  (interleaved or single-component), first and refinement AC scans
  with EOBn run decoding (G.1.2.2) and the correction-bit algorithm
  (G.1.2.3); multi-scan sequential files fall out of the same engine
  (a baseline scan is just Ss=0, Se=63, Ah=Al=0),
- DQT (8/16-bit), DHT redefinable between scans, DRI/RSTn restart
  intervals per scan, APPn/COM skip.
Arithmetic coding, hierarchical and lossless processes stay out of
scope and return None (callers keep their documented fallback).

Shape of the work: marker/header parse and the entropy decode are a
per-symbol Python loop fed by a 16-bit-peek huffman lookup table
(one dict build per DHT, O(1) per symbol) over `bitstream.MSBReader`,
the MSB-first reader the CCITT decoders share; everything after entropy
decode — dequantization, dezigzag, the 2-D IDCT (orthonormal DCT-II
basis, two einsums over ALL blocks at once), level shift, block-grid
reassembly (one transpose+reshape), chroma upsample, YCbCr->RGB —
is vectorized numpy over the whole image.
"""

from __future__ import annotations

import numpy as np

from .bitstream import MSBReader
from .png import luma_bt601

# zigzag order (T.81 Figure A.6): zz[i] = raster index of the i-th
# zigzag-scanned coefficient
_ZZ = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

# orthonormal DCT-II basis: C[k, n] = s_k cos((2n+1) k pi / 16)
_C = np.zeros((8, 8))
for _k in range(8):
    _s = np.sqrt(1.0 / 8) if _k == 0 else np.sqrt(2.0 / 8)
    for _n in range(8):
        _C[_k, _n] = _s * np.cos((2 * _n + 1) * _k * np.pi / 16)


class _Huff:
    """Canonical huffman table with a 16-bit-peek fast path."""

    __slots__ = ("lut",)

    def __init__(self, bits: list[int], vals: bytes) -> None:
        # canonical code assignment (T.81 Annex C)
        self.lut: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                # index by the code left-aligned in 16 bits; decode
                # peeks 16 bits and probes lengths 1..16
                self.lut[(length << 16) | (code << (16 - length))] = (
                    vals[k], length,
                )
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: MSBReader) -> int:
        peek = br.peek(16)
        lut = self.lut
        for length in range(1, 17):
            mask = ~((1 << (16 - length)) - 1) & 0xFFFF
            hit = lut.get((length << 16) | (peek & mask))
            if hit is not None:
                br.skip(length)
                return hit[0]
        raise ValueError("bad huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the s-bit magnitude to its signed
    value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOFn header, or None — the
    cheap metadata path (no entropy decode)."""
    if data[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        m = data[i + 1]
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:
            return None
        seglen = int.from_bytes(data[i + 2 : i + 4], "big")
        if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
            if i + 9 <= n:
                h = int.from_bytes(data[i + 5 : i + 7], "big")
                w = int.from_bytes(data[i + 7 : i + 9], "big")
                return (w, h)
            return None
        i += 2 + seglen
    return None


def decode_jpeg(data: bytes) -> np.ndarray | None:
    """Sequential (SOF0/SOF1) or progressive (SOF2) JPEG -> uint8
    array (h, w) for grayscale or (h, w, 3) RGB for YCbCr. None when
    not a decodable huffman 8-bit file (caller falls back)."""
    try:
        return _decode_jpeg_inner(data)
    except Exception:
        return None


def decode_jpeg_gray(data: bytes) -> np.ndarray | None:
    """decode_jpeg collapsed to one grayscale plane (png.luma_bt601
    for color images) — the engine's crop/dhash unit."""
    px = decode_jpeg(data)
    if px is None:
        return None
    if px.ndim == 2:
        return px
    rgb = px.astype(np.int32)
    return luma_bt601(rgb[..., 0], rgb[..., 1], rgb[..., 2]).astype(np.uint8)


def _unstuff_scan(data: bytes, i: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from offset i -> (unstuffed byte runs split
    at RSTn markers, offset of the terminating marker's 0xFF)."""
    segments: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            nxt = data[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # real marker terminates the scan
        cur.append(b)
        i += 1
    segments.append(bytes(cur))
    return segments, i


def _refine_nonzero(br: MSBReader, row: np.ndarray, k: int, se: int, p1: int) -> None:
    """G.1.2.3 correction-bit sweep: for every already-nonzero coef
    in zigzag positions k..se, read one bit and, when set, move its
    magnitude one step away from zero in the new bit plane."""
    while k <= se:
        v = int(row[k])
        if v != 0 and br.get(1):
            if (v & p1) == 0:
                row[k] = v + p1 if v > 0 else v - p1
        k += 1


def _decode_block(
    br: MSBReader,
    row: np.ndarray,
    hdc: _Huff | None,
    hac: _Huff | None,
    pred: list[int],
    ci: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    eobrun: int,
) -> int:
    """Decode one block's contribution for the current scan band
    (generic over sequential and progressive: a baseline scan is
    ss=0, se=63, ah=al=0). Returns the updated EOB run."""
    k = ss
    if ss == 0:  # DC portion
        if ah == 0:  # first DC scan (or sequential)
            s = hdc.decode(br)
            if s > 16:
                raise ValueError("DC magnitude category past 16 bits")
            pred[ci] += _extend(br.get(s), s)
            row[0] = pred[ci] << al
        else:  # DC refinement: one bit per block
            if br.get(1):
                row[0] = int(row[0]) | (1 << al)
        if se == 0:
            return eobrun  # pure DC scan
        k = 1

    if ah == 0:  # first AC scan / sequential AC (G.1.2.2)
        if eobrun > 0:
            return eobrun - 1
        while k <= se:
            rs = hac.decode(br)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                eobrun = (1 << r) - 1  # EOBn: this block is done
                if r:
                    eobrun += br.get(r)
                break
            k += r
            if k > se:
                raise ValueError("AC run past band end")
            row[k] = _extend(br.get(s), s) << al
            k += 1
        return eobrun

    # AC refinement scan (G.1.2.3)
    p1 = 1 << al
    if eobrun == 0:
        while k <= se:
            rs = hac.decode(br)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.get(r)
                    break  # EOB logic below corrects the tail
                # r == 15: pass 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("refinement magnitude != 1")
                val = p1 if br.get(1) else -p1
            while k <= se:
                v = int(row[k])
                if v != 0:
                    if br.get(1) and (v & p1) == 0:
                        row[k] = v + p1 if v > 0 else v - p1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if val and k <= se:
                row[k] = val
            k += 1
    if eobrun > 0:
        _refine_nonzero(br, row, k, se, p1)
        eobrun -= 1
    return eobrun


def _decode_jpeg_inner(data: bytes) -> np.ndarray | None:
    if data[:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    comps: list[dict] = []
    grids: list[np.ndarray] = []  # per comp: (blocks_y, blocks_x, 64)
    w = h = 0
    hmax = vmax = mcux = mcuy = 0
    restart = 0
    prec = 8
    i = 2
    n = len(data)
    saw_scan = False

    while i + 2 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        m = data[i + 1]
        if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        if i + 4 > n:
            break
        seglen = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + seglen]
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                j += 1
                if pq:
                    tbl = np.frombuffer(
                        seg[j : j + 128], dtype=">u2"
                    ).astype(np.int32)
                    j += 128
                else:
                    tbl = np.frombuffer(
                        seg[j : j + 64], dtype=np.uint8
                    ).astype(np.int32)
                    j += 64
                qt[tq] = tbl
        elif m == 0xC4:  # DHT (redefinable between scans)
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1 : j + 17])
                nv = sum(bits)
                vals = seg[j + 17 : j + 17 + nv]
                (huff_ac if tc else huff_dc)[th] = _Huff(bits, vals)
                j += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):  # baseline / ext. seq. / progressive
            prec = seg[0]
            # T.81: baseline (SOF0) is 8-bit only; extended sequential
            # and progressive allow 12-bit (Annex B table B.2)
            if prec != 8 and not (prec == 12 and m in (0xC1, 0xC2)):
                return None
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if nc not in (1, 3):
                return None
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "q": tq}
                )
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            # MCU-padded block grid per component; every scan kind
            # (interleaved or single-component) indexes (by, bx)
            grids = [
                np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
                for c in comps
            ]
            # per-component TRUE block extents (non-interleaved scans
            # cover ceil(comp_dims / 8), NOT the MCU-padded grid)
            for c in comps:
                cw = -(-w * c["h"] // hmax)
                ch = -(-h * c["v"] // vmax)
                c["bx"] = -(-cw // 8)
                c["by"] = -(-ch // 8)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            return None  # lossless / arithmetic / hierarchical
        elif m == 0xDD:  # DRI
            restart = int.from_bytes(seg[0:2], "big")
        elif m == 0xDA:  # SOS: decode this scan immediately
            if not comps:
                return None
            ns = seg[0]
            sel: list[tuple[int, _Huff | None, _Huff | None]] = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                idx = next(
                    k for k, cc in enumerate(comps) if cc["id"] == cid
                )
                sel.append(
                    (idx, huff_dc.get(tt >> 4), huff_ac.get(tt & 0xF))
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if not (0 <= ss <= se <= 63):
                return None
            if ss > 0 and ns != 1:
                return None  # progressive AC scans are single-comp
            segments, i = _unstuff_scan(data, i + 2 + seglen)
            _decode_scan(
                segments, comps, grids, sel, ss, se, ah, al, restart,
                mcux, mcuy,
            )
            saw_scan = True
            continue
        i += 2 + seglen

    if not saw_scan or not comps or not w or not h:
        return None

    # vectorized: dequant + dezigzag + IDCT + level shift per plane;
    # level shift and clamp range follow the sample precision (T.81
    # A.3.1: shift = 2^(P-1), range 0..2^P-1); 12-bit planes downscale
    # to the engine's 8-bit output by dropping the 4 low bits at the
    # very end (after color conversion).
    mid = 1 << (prec - 1)
    maxv = (1 << prec) - 1
    planes: list[np.ndarray] = []
    for ci, c in enumerate(comps):
        q = qt[c["q"]]
        g = grids[ci]
        by_, bx_ = g.shape[0], g.shape[1]
        blocks = np.zeros((by_ * bx_, 64), dtype=np.float64)
        blocks[:, _ZZ] = g.reshape(-1, 64) * q[np.newaxis, :]
        blocks = blocks.reshape(-1, 8, 8)
        # 2-D IDCT: C^T @ F @ C over all blocks at once
        spatial = np.einsum(
            "kK,nKL,Ll->nkl", _C.T, blocks, _C, optimize=True
        )
        spatial = np.clip(np.round(spatial) + mid, 0, maxv).astype(np.int32)
        # grid order (by, bx): one transpose+reshape rebuilds the plane
        plane = (
            spatial.reshape(by_, bx_, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_ * 8, bx_ * 8)
        )
        # crop to this component's true extent, then upsample to full
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        plane = plane[:ch, :cw]
        if c["h"] != hmax or c["v"] != vmax:
            plane = plane.repeat(vmax // c["v"], axis=0).repeat(
                hmax // c["h"], axis=1
            )
        planes.append(plane[:h, :w])

    shift = prec - 8
    if len(planes) == 1:
        return (planes[0] >> shift).astype(np.uint8)
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - float(mid)
    cr = planes[2].astype(np.float64) - float(mid)
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    rgb = np.clip(np.round(rgb), 0, maxv).astype(np.int32)
    return (rgb >> shift).astype(np.uint8)


def _decode_scan(
    segments: list[bytes],
    comps: list[dict],
    grids: list[np.ndarray],
    sel: list[tuple[int, _Huff | None, _Huff | None]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    restart: int,
    mcux: int,
    mcuy: int,
) -> None:
    """Entropy-decode one scan into the coefficient grids. Interleaved
    scans (ns > 1) walk MCUs; single-component scans walk the
    component's TRUE block raster (its MCU is one block, so restart
    intervals count blocks). Predictors and the EOB run reset at every
    restart segment."""
    br = MSBReader(segments[0])
    seg_idx = 0
    pred = [0] * len(comps)
    eobrun = 0

    def _restart_boundary(unit: int) -> None:
        nonlocal br, seg_idx, pred, eobrun
        if restart and unit and unit % restart == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("missing restart segment")
            br = MSBReader(segments[seg_idx])
            pred = [0] * len(comps)
            eobrun = 0

    if len(sel) > 1:
        # interleaved: all blocks of each MCU in component order
        for mcu in range(mcux * mcuy):
            _restart_boundary(mcu)
            my, mx = divmod(mcu, mcux)
            for ci, hdc, hac in sel:
                c = comps[ci]
                for b in range(c["h"] * c["v"]):
                    by, bx = divmod(b, c["h"])
                    row = grids[ci][my * c["v"] + by, mx * c["h"] + bx]
                    eobrun = _decode_block(
                        br, row, hdc, hac, pred, ci, ss, se, ah, al,
                        eobrun,
                    )
    else:
        ci, hdc, hac = sel[0]
        c = comps[ci]
        for b in range(c["by"] * c["bx"]):
            _restart_boundary(b)
            by, bx = divmod(b, c["bx"])
            eobrun = _decode_block(
                br, grids[ci][by, bx], hdc, hac, pred, ci, ss, se, ah,
                al, eobrun,
            )
