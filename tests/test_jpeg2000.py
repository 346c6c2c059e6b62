"""JPEG 2000 reversible-profile decoder (jpeg2000.py): end-to-end
pixel-exact round trips against an INDEPENDENT test-side encoder
built from the ENCODER side of ITU-T T.800 (forward 5/3 lifting,
EBCOT pass encoding, tag-tree encoding per the B.10.2 flowcharts,
packet headers with bit stuffing, marker assembly) riding the MQ
encoder already validated in test_jbig2 — the engine decoder was
written from the decoder flowcharts, so a transcription slip on
either side breaks the round trip. Covers odd/even geometry, all
decomposition depths 0-3, codeblock sizes, bit depths, SOP/EPH,
JP2 container vs raw codestream, multi-component with and without
the reversible color transform, a layer-1-only two-layer stream
(empty-packet + deferred-inclusion paths), progression orders, and
honest-fallback gating for everything out of profile."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
from test_jbig2 import MQEncoder
from two_tier_document_parser_spark.jpeg2000 import (
    _ZC,
    _SC,
    _HdrBits,
    _TagTree,
    decode_jp2,
    decode_jp2_gray,
    jp2_dims,
)
from two_tier_document_parser_spark.png import luma_bt601

# ---------------------------------------------------------------------------
# test-side header-bit writer (B.10.1 stuffing, encoder direction)
# ---------------------------------------------------------------------------


class HdrWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.n = 0

    def _limit(self):
        return 7 if (self.out and self.out[-1] == 0xFF) else 8

    def bit(self, b):
        self.cur = (self.cur << 1) | (b & 1)
        self.n += 1
        if self.n == self._limit():
            self.out.append(self.cur)
            self.cur = 0
            self.n = 0

    def bits(self, v, n):
        for k in range(n - 1, -1, -1):
            self.bit((v >> k) & 1)

    def align(self):
        if self.n:
            self.out.append(self.cur << (self._limit() - self.n))
            self.cur = 0
            self.n = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# test-side tag-tree encoder (B.10.2, openjpeg-style node walk)
# ---------------------------------------------------------------------------


class TagTreeEnc:
    def __init__(self, values):
        v = np.asarray(values, dtype=np.int64)
        self.vals = [v]
        while v.shape != (1, 1):
            h, w = v.shape
            nh, nw = (h + 1) // 2, (w + 1) // 2
            p = np.full((nh, nw), 2**60, dtype=np.int64)
            for y in range(h):
                for x in range(w):
                    p[y // 2, x // 2] = min(p[y // 2, x // 2], v[y, x])
            self.vals.append(p)
            v = p
        self.low = [np.zeros_like(a) for a in self.vals]
        self.known = [np.zeros(a.shape, dtype=bool) for a in self.vals]

    def encode(self, i, j, threshold, bw):
        path = []
        x, y = i, j
        for lev in range(len(self.vals)):
            path.append((lev, x, y))
            x //= 2
            y //= 2
        low = 0
        for lev, x, y in reversed(path):
            if self.low[lev][y, x] < low:
                self.low[lev][y, x] = low
            while (
                not self.known[lev][y, x]
                and self.low[lev][y, x] < threshold
            ):
                if self.low[lev][y, x] < self.vals[lev][y, x]:
                    bw.bit(0)
                    self.low[lev][y, x] += 1
                else:
                    bw.bit(1)
                    self.known[lev][y, x] = True
            low = int(self.low[lev][y, x])
            if not self.known[lev][y, x]:
                return


# ---------------------------------------------------------------------------
# test-side forward 5/3 (vertical analysis then horizontal — the
# inverse of the decoder's HOR_SR-then-VER_SR)
# ---------------------------------------------------------------------------


def _analyze(x, axis):
    a = np.moveaxis(x.astype(np.int64), axis, 0)
    n = a.shape[0]
    even, odd = a[0::2], a[1::2]
    if len(odd) == 0:
        return np.moveaxis(even, 0, axis), np.moveaxis(odd, 0, axis)
    enext = np.concatenate([even[1:], even[-1:]], axis=0)[: len(odd)]
    high = odd - ((even[: len(odd)] + enext) >> 1)
    hpad = np.concatenate([high[:1], high, high[-1:]], axis=0)
    low = even + ((hpad[: len(even)] + hpad[1 : len(even) + 1] + 2) >> 2)
    return np.moveaxis(low, 0, axis), np.moveaxis(high, 0, axis)


def fdwt(img, nl):
    """-> (ll, [(hl, lh, hh) per level 1..nl] in resolution order)."""
    ll = img.astype(np.int64)
    levels = []
    for _ in range(nl):
        lo, hi = _analyze(ll, axis=0)
        ll_, hl = _analyze(lo, axis=1)
        lh, hh = _analyze(hi, axis=1)
        levels.append((hl, lh, hh))
        ll = ll_
    return ll, levels[::-1]  # deepest (resolution 1) first


# forward 9/7 (float lifting; scaling low/K, high*K — the inverse of
# the decoder's synthesis-side low*K, high/K)
_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _analyze97(x, axis):
    a = np.moveaxis(x.astype(np.float64), axis, 0)
    even, odd = a[0::2].copy(), a[1::2].copy()
    nl_, nh = len(even), len(odd)
    if nh == 0:
        return np.moveaxis(even, 0, axis), np.moveaxis(odd, 0, axis)

    def odd_step(od, ev, c):
        nxt = np.concatenate([ev[1:], ev[-1:]], axis=0)[:nh]
        return od + c * (ev[:nh] + nxt)

    def even_step(ev, od, c):
        pad = np.concatenate([od[:1], od, od[-1:]], axis=0)
        return ev + c * (pad[:nl_] + pad[1 : nl_ + 1])

    odd = odd_step(odd, even, _A97)
    even = even_step(even, odd, _B97)
    odd = odd_step(odd, even, _G97)
    even = even_step(even, odd, _D97)
    return (
        np.moveaxis(even / _K97, 0, axis),
        np.moveaxis(odd * _K97, 0, axis),
    )


def fdwt97(img, nl):
    ll = img.astype(np.float64)
    levels = []
    for _ in range(nl):
        lo, hi = _analyze97(ll, axis=0)
        ll_, hl = _analyze97(lo, axis=1)
        lh, hh = _analyze97(hi, axis=1)
        levels.append((hl, lh, hh))
        ll = ll_
    return ll, levels[::-1]


# ---------------------------------------------------------------------------
# test-side EBCOT block encoder (Annex D, encoder direction)
# ---------------------------------------------------------------------------


def _mk_state():
    return {0: (4, 0), 17: (3, 0), 18: (46, 0)}


def encode_block(coeff, kind):
    """-> (segment bytes, numbps, npasses); None for all-zero."""
    h, w = coeff.shape
    mag = np.abs(coeff.astype(np.int64))
    neg = (coeff < 0).astype(np.uint8)
    numbps = int(mag.max()).bit_length()
    if numbps == 0:
        return None
    sig = np.zeros((h, w), np.uint8)
    pi = np.zeros((h, w), np.uint8)
    refined = np.zeros((h, w), np.uint8)
    enc = MQEncoder()
    st = _mk_state()

    def counts(x, y):
        hc = (x > 0 and sig[y, x - 1]) + (x + 1 < w and sig[y, x + 1])
        vc = (y > 0 and sig[y - 1, x]) + (y + 1 < h and sig[y + 1, x])
        dc = (
            (x > 0 and y > 0 and sig[y - 1, x - 1])
            + (x + 1 < w and y > 0 and sig[y - 1, x + 1])
            + (x > 0 and y + 1 < h and sig[y + 1, x - 1])
            + (x + 1 < w and y + 1 < h and sig[y + 1, x + 1])
        )
        return int(hc), int(vc), int(dc)

    def put_sign(x, y):
        def contrib(xx, yy):
            if 0 <= xx < w and 0 <= yy < h and sig[yy, xx]:
                return -1 if neg[yy, xx] else 1
            return 0

        hs = max(-1, min(1, contrib(x - 1, y) + contrib(x + 1, y)))
        vs = max(-1, min(1, contrib(x, y - 1) + contrib(x, y + 1)))
        ctx, xor = _SC[(hs, vs)]
        enc.encode(st, ctx, int(neg[y, x]) ^ xor)

    def spp(p):
        for y0 in range(0, h, 4):
            for x in range(w):
                for y in range(y0, min(y0 + 4, h)):
                    if sig[y, x] or pi[y, x]:
                        continue
                    hc, vc, dc = counts(x, y)
                    if hc + vc + dc == 0:
                        continue
                    bit = int((mag[y, x] >> p) & 1)
                    enc.encode(st, int(_ZC[kind, hc, vc, dc]), bit)
                    pi[y, x] = 1
                    if bit:
                        put_sign(x, y)
                        sig[y, x] = 1

    def mrp(p):
        for y0 in range(0, h, 4):
            for x in range(w):
                for y in range(y0, min(y0 + 4, h)):
                    if not sig[y, x] or pi[y, x]:
                        continue
                    if refined[y, x]:
                        ctx = 16
                    else:
                        hc, vc, dc = counts(x, y)
                        ctx = 15 if hc + vc + dc else 14
                        refined[y, x] = 1
                    enc.encode(st, ctx, int((mag[y, x] >> p) & 1))

    def cp(p):
        for y0 in range(0, h, 4):
            for x in range(w):
                y = y0
                ylim = min(y0 + 4, h)
                if ylim - y0 == 4 and not (
                    sig[y0 : y0 + 4, x].any() or pi[y0 : y0 + 4, x].any()
                ):
                    if all(
                        sum(counts(x, yy)) == 0 for yy in range(y0, y0 + 4)
                    ):
                        becomes = [
                            int((mag[yy, x] >> p) & 1)
                            for yy in range(y0, y0 + 4)
                        ]
                        if not any(becomes):
                            enc.encode(st, 17, 0)
                            continue
                        enc.encode(st, 17, 1)
                        r = becomes.index(1)
                        enc.encode(st, 18, (r >> 1) & 1)
                        enc.encode(st, 18, r & 1)
                        y = y0 + r
                        put_sign(x, y)
                        sig[y, x] = 1
                        y += 1
                for yy in range(y, ylim):
                    if sig[yy, x] or pi[yy, x]:
                        continue
                    hc, vc, dc = counts(x, yy)
                    bit = int((mag[yy, x] >> p) & 1)
                    enc.encode(st, int(_ZC[kind, hc, vc, dc]), bit)
                    if bit:
                        put_sign(x, yy)
                        sig[yy, x] = 1
        pi[:] = 0

    cp(numbps - 1)
    npasses = 1
    for p in range(numbps - 2, -1, -1):
        spp(p)
        mrp(p)
        cp(p)
        npasses += 3
    return enc.flush(), numbps, npasses


def put_npasses(bw, n):
    if n == 1:
        bw.bit(0)
    elif n == 2:
        bw.bit(1)
        bw.bit(0)
    elif n <= 5:
        bw.bits(0b11, 2)
        bw.bits(n - 3, 2)
    elif n <= 36:
        bw.bits(0b1111, 4)
        bw.bits(n - 6, 5)
    else:
        bw.bits(0b111111111, 9)
        bw.bits(n - 37, 7)


# ---------------------------------------------------------------------------
# test-side codestream assembly
# ---------------------------------------------------------------------------


def _marker(m, payload):
    return bytes([0xFF, m]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_j2k(
    img,
    nl=2,
    cb=16,
    depth=8,
    sop=False,
    eph=False,
    prog=0,
    mct=0,
    defer_layer=False,
    irreversible=False,
    fine=6,
):
    """Codestream for (h, w) or (h, w, ncomp) uint arrays: lossless
    reversible 5/3 by default, or the irreversible 9/7 with scalar
    expounded quantization at step 2^-fine (and ICT when mct=1).
    defer_layer=True writes a 2-layer stream whose layer-0 packets
    are all empty (exercises the decoder's empty packet +
    deferred-inclusion paths)."""
    img = np.asarray(img)
    ncomp = 1 if img.ndim == 2 else img.shape[2]
    h, w = img.shape[:2]
    comps = [
        (img if ncomp == 1 else img[:, :, c]).astype(np.float64)
        - (1 << (depth - 1))
        for c in range(ncomp)
    ]
    if mct == 1 and not irreversible:
        r, g, b = (c.astype(np.int64) for c in comps[:3])
        yy = (r + 2 * g + b) >> 2
        comps[0], comps[1], comps[2] = yy, b - g, r - g
    elif mct == 1:
        r, g, b = comps[:3]
        comps[0] = 0.299 * r + 0.587 * g + 0.114 * b
        comps[1] = -0.168736 * r - 0.331264 * g + 0.5 * b
        comps[2] = 0.5 * r - 0.418688 * g - 0.081312 * b

    # transform + per-band coefficient matrices, resolution order
    if irreversible:
        per_comp = [fdwt97(c, nl) for c in comps]
    else:
        per_comp = [fdwt(c.astype(np.int64), nl) for c in comps]
    gains = {0: 0, 1: 1, 2: 2}
    # eps per band (resolution order LL, then HL/LH/HH per res)
    off = fine if irreversible else 0
    eps = [depth + gains[0] + off]
    for _ in range(nl):
        eps += [depth + 1 + off, depth + 1 + off, depth + 2 + off]
    if irreversible:
        # deadzone-quantize each band: q = sign * floor(|v| / delta),
        # delta = 2^(depth + gain - eps) (mantissa 0)
        gseq = [0] + [1, 1, 2] * nl
        quant: list[tuple] = []
        for ll, levels in per_comp:
            mats = [ll] + [m for lvl in levels for m in lvl]
            out = []
            for bi, m in enumerate(mats):
                delta = 2.0 ** (depth + gseq[bi] - eps[bi])
                out.append(
                    (np.sign(m) * np.floor(np.abs(m) / delta)).astype(
                        np.int64
                    )
                )
            ll_q = out[0]
            lv_q = [
                tuple(out[1 + 3 * k : 4 + 3 * k]) for k in range(nl)
            ]
            quant.append((ll_q, lv_q))
        per_comp = quant
    # guard bits so every block's zbp >= 0
    need = 0
    for ll, levels in per_comp:
        bands_seq = [(ll, 0)] + [
            (m, k) for hl, lh, hh in levels for m, k in ((hl, 1), (lh, 0), (hh, 2))
        ]
        for bi, (m, _k) in enumerate(bands_seq):
            if m.size:
                need = max(need, int(np.abs(m).max()).bit_length() - eps[bi] + 1)
    guard = min(7, max(2, need))

    siz = (
        (0).to_bytes(2, "big")
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes(8)
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes(8)
        + ncomp.to_bytes(2, "big")
        + bytes([depth - 1, 1, 1]) * ncomp
    )
    nlayers = 2 if defer_layer else 1
    scod = (2 if sop else 0) | (4 if eph else 0)
    cbe = int(np.log2(cb)) - 2
    cod = bytes([scod, prog]) + nlayers.to_bytes(2, "big") + bytes(
        [mct, nl, cbe, cbe, 0, 0 if irreversible else 1]
    )
    if irreversible:  # scalar expounded: 16-bit (exponent, mantissa=0)
        qcd = bytes([(guard << 5) | 2]) + b"".join(
            (e << 11).to_bytes(2, "big") for e in eps
        )
    else:
        qcd = bytes([guard << 5]) + bytes(e << 3 for e in eps)

    # per-component, per-resolution band matrices + block metadata
    layouts = []
    for ll, levels in per_comp:
        res = [[(ll, 0)]]
        for hl, lh, hh in levels:
            res.append([(hl, 1), (lh, 0), (hh, 2)])
        layouts.append(res)

    body = bytearray()
    nsop = 0
    incl_layer = 1 if defer_layer else 0

    # block encode once, cached
    blocks = {}  # (c, r, b, cx, cy) -> (seg, numbps, npasses, zbp)
    for c in range(ncomp):
        for r, bands in enumerate(layouts[c]):
            for b, (mat, kind) in enumerate(bands):
                bh, bw_ = mat.shape
                if not mat.size:
                    continue
                mb = guard + eps[0 if r == 0 else 3 * (r - 1) + 1 + b] - 1
                ncx, ncy = -(-bw_ // cb), -(-bh // cb)
                for cy in range(ncy):
                    for cx in range(ncx):
                        sub = mat[
                            cy * cb : (cy + 1) * cb, cx * cb : (cx + 1) * cb
                        ]
                        enc = encode_block(sub, kind)
                        if enc is None:
                            continue
                        seg, numbps, npasses = enc
                        zbp = mb - numbps
                        assert zbp >= 0, "guard bits miscomputed"
                        blocks[(c, r, b, cx, cy)] = (seg, numbps, npasses, zbp)

    def packet(layer, r, c):
        nonlocal nsop
        out = bytearray()
        if sop:
            out += b"\xff\x91\x00\x04" + (nsop & 0xFFFF).to_bytes(2, "big")
            nsop += 1
        bw2 = HdrWriter()
        segs = []
        any_included = any(
            k[0] == c and k[1] == r and layer == incl_layer for k in blocks
        )
        if not any_included:
            bw2.bit(0)
            out += bw2.align()
            if eph:
                out += b"\xff\x92"
            return bytes(out)
        bw2.bit(1)
        for b, (mat, _kind) in enumerate(layouts[c][r]):
            bh, bw_ = mat.shape
            if not mat.size:
                continue
            ncx, ncy = -(-bw_ // cb), -(-bh // cb)
            key = (c, r, b)
            if key not in packet.trees:
                incl_vals = np.full((ncy, ncx), nlayers, dtype=np.int64)
                zbp_vals = np.zeros((ncy, ncx), dtype=np.int64)
                for (cc, rr, bb, cx, cy), (_s, _n, _p, zbp) in blocks.items():
                    if (cc, rr, bb) == key:
                        incl_vals[cy, cx] = incl_layer
                        zbp_vals[cy, cx] = zbp
                packet.trees[key] = (
                    TagTreeEnc(incl_vals),
                    TagTreeEnc(zbp_vals),
                )
            itree, ztree = packet.trees[key]
            for cy in range(ncy):
                for cx in range(ncx):
                    itree.encode(cx, cy, layer + 1, bw2)
                    blk = blocks.get((c, r, b, cx, cy))
                    if blk is None or incl_layer != layer:
                        continue
                    seg, _numbps, npasses, zbp = blk
                    for t in range(1, zbp + 2):
                        ztree.encode(cx, cy, t, bw2)
                    put_npasses(bw2, npasses)
                    lblock = 3
                    nbits = lblock + npasses.bit_length() - 1
                    while len(seg) >= (1 << nbits):
                        bw2.bit(1)
                        lblock += 1
                        nbits += 1
                    bw2.bit(0)
                    bw2.bits(len(seg), nbits)
                    segs.append(seg)
        out += bw2.align()
        if eph:
            out += b"\xff\x92"
        for s in segs:
            out += s
        return bytes(out)

    packet.trees = {}

    if prog == 0:
        order = [
            (ly, r, c)
            for ly in range(nlayers)
            for r in range(nl + 1)
            for c in range(ncomp)
        ]
    elif prog == 2:
        order = [
            (ly, r, c)
            for r in range(nl + 1)
            for c in range(ncomp)
            for ly in range(nlayers)
        ]
    else:  # CPRL for the test matrix
        order = [
            (ly, r, c)
            for c in range(ncomp)
            for r in range(nl + 1)
            for ly in range(nlayers)
        ]
    for ly, r, c in order:
        body += packet(ly, r, c)

    sot_payload_len = 10
    psot = 2 + sot_payload_len + 2 + len(body)
    sot = _marker(
        0x90,
        (0).to_bytes(2, "big") + psot.to_bytes(4, "big") + bytes([0, 1]),
    )
    return (
        b"\xff\x4f"
        + _marker(0x51, siz)
        + _marker(0x52, cod)
        + _marker(0x5C, qcd)
        + sot
        + b"\xff\x93"
        + bytes(body)
        + b"\xff\xd9"
    )


def wrap_jp2(codestream, w, h, ncomp=1, depth=8):
    def box(tag, payload):
        return (len(payload) + 8).to_bytes(4, "big") + tag + payload

    sig = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ftyp = box(b"ftyp", b"jp2 " + bytes(4) + b"jp2 ")
    ihdr = box(
        b"ihdr",
        h.to_bytes(4, "big")
        + w.to_bytes(4, "big")
        + ncomp.to_bytes(2, "big")
        + bytes([depth - 1, 7, 0, 0]),
    )
    jp2h = box(b"jp2h", ihdr)
    return sig + ftyp + jp2h + box(b"jp2c", codestream)


def _img(h, w, seed, depth=8):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << depth, (h, w), dtype=np.int64)


# ---------------------------------------------------------------------------
# unit: tag trees
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_tag_tree_round_trip(seed):
    rng = np.random.default_rng(seed)
    w, h = int(rng.integers(1, 7)), int(rng.integers(1, 7))
    vals = rng.integers(0, 6, (h, w))
    enc = TagTreeEnc(vals)
    bw = HdrWriter()
    # progressive thresholds, every leaf, like the inclusion protocol
    for t in range(1, 8):
        for j in range(h):
            for i in range(w):
                enc.encode(i, j, t, bw)
    data = bw.align()
    dec = _TagTree(w, h)
    rdr = _HdrBits(data, 0)
    for t in range(1, 8):
        for j in range(h):
            for i in range(w):
                assert dec.decode(i, j, t, rdr) == (vals[j, i] < t)


# ---------------------------------------------------------------------------
# end-to-end lossless round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "h,w,nl,cb,seed",
    [
        (1, 1, 0, 4, 0),
        (7, 5, 1, 4, 1),
        (16, 16, 2, 8, 2),
        (33, 17, 3, 16, 3),
        (12, 40, 2, 16, 4),
    ],
)
def test_round_trip_geometry(h, w, nl, cb, seed):
    img = _img(h, w, seed)
    got = decode_jp2(encode_j2k(img, nl=nl, cb=cb))
    assert got is not None and got.shape == (h, w)
    assert np.array_equal(got, img)


def test_round_trip_smooth_image():
    """Gradients exercise long run-length columns and deep refinement
    (random noise barely hits the RL path)."""
    yy, xx = np.mgrid[0:24, 0:31]
    img = ((yy * 3 + xx * 5) // 4) % 256
    assert np.array_equal(decode_jp2(encode_j2k(img, nl=2, cb=8)), img)
    flat = np.full((9, 13), 200, dtype=np.int64)
    assert np.array_equal(decode_jp2(encode_j2k(flat, nl=1, cb=4)), flat)


def test_round_trip_depth12():
    img = _img(11, 19, 7, depth=12)
    got = decode_jp2(encode_j2k(img, nl=2, cb=8, depth=12))
    assert np.array_equal(got, img)


@pytest.mark.parametrize("sop,eph", [(True, False), (False, True), (True, True)])
def test_round_trip_sop_eph(sop, eph):
    img = _img(10, 14, 8)
    got = decode_jp2(encode_j2k(img, nl=1, cb=8, sop=sop, eph=eph))
    assert np.array_equal(got, img)


@pytest.mark.parametrize("prog", [0, 2, 4])
def test_round_trip_progressions(prog):
    img = _img(9, 9, 9)
    got = decode_jp2(encode_j2k(img, nl=2, cb=4, prog=prog))
    assert np.array_equal(got, img)


def test_round_trip_deferred_layer():
    """Two-layer stream with all content in layer 1: empty packets,
    then tag-tree inclusion at threshold 2."""
    img = _img(13, 11, 10)
    got = decode_jp2(encode_j2k(img, nl=1, cb=8, defer_layer=True))
    assert np.array_equal(got, img)


def test_round_trip_multicomponent_and_rct():
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (14, 10, 3), dtype=np.int64)
    for mct in (0, 1):
        got = decode_jp2(encode_j2k(rgb, nl=2, cb=8, mct=mct))
        assert got is not None and got.shape == (14, 10, 3)
        assert np.array_equal(got, rgb), mct


def test_round_trip_irreversible_97():
    """Lossy 9/7 + scalar-expounded quantization: with a fine step
    (2^-6 in every band) the reconstruction must land within a gray
    level or two of the source — the dequant midpoint and float
    lifting bound the error well below the step's synthesis gain."""
    for h, w, nl, cb, seed in [(16, 16, 2, 8, 40), (21, 13, 1, 8, 41),
                               (9, 30, 3, 16, 42)]:
        img = _img(h, w, seed)
        got = decode_jp2(encode_j2k(img, nl=nl, cb=cb, irreversible=True))
        assert got is not None and got.shape == (h, w)
        err = np.abs(got.astype(np.int64) - img)
        assert err.max() <= 2, (h, w, nl, err.max())
    # a coarse step still reconstructs in the right neighborhood
    img = _img(12, 12, 43)
    got = decode_jp2(encode_j2k(img, nl=1, cb=8, irreversible=True, fine=2))
    err = np.abs(got.astype(np.int64) - img)
    assert err.max() <= 8 and err.mean() <= 2


def test_round_trip_irreversible_ict():
    rng = np.random.default_rng(44)
    rgb = rng.integers(0, 256, (10, 14, 3), dtype=np.int64)
    got = decode_jp2(encode_j2k(rgb, nl=1, cb=8, irreversible=True, mct=1))
    assert got is not None and got.shape == (10, 14, 3)
    assert np.abs(got.astype(np.int64) - rgb).max() <= 3
    gray = decode_jp2_gray(encode_j2k(rgb, nl=1, cb=8, irreversible=True,
                                      mct=1))
    y = luma_bt601(rgb[..., 0], rgb[..., 1], rgb[..., 2])
    assert np.abs(gray.astype(np.int64) - y).max() <= 3


def test_jp2_container_and_gray():
    img = _img(15, 22, 12)
    jp2 = wrap_jp2(encode_j2k(img, nl=2, cb=8), 22, 15)
    assert jp2_dims(jp2) == (22, 15)
    got = decode_jp2(jp2)
    assert np.array_equal(got, img)
    gray = decode_jp2_gray(jp2)
    assert np.array_equal(gray, img.astype(np.uint8))
    # 12-bit scales to 8-bit
    img12 = _img(6, 6, 13, depth=12)
    g12 = decode_jp2_gray(encode_j2k(img12, nl=1, cb=4, depth=12))
    assert g12.dtype == np.uint8
    expect = (img12 * 255 + 2047) // 4095
    assert np.array_equal(g12, expect.astype(np.uint8))
    # 3-component luma
    rgb = np.random.default_rng(14).integers(0, 256, (8, 8, 3), dtype=np.int64)
    gl = decode_jp2_gray(encode_j2k(rgb, nl=1, cb=8))
    y = luma_bt601(rgb[..., 0], rgb[..., 1], rgb[..., 2])
    assert np.array_equal(gl, y.astype(np.uint8))


# ---------------------------------------------------------------------------
# honest fallbacks
# ---------------------------------------------------------------------------


def test_out_of_profile_returns_none():
    img = _img(8, 8, 20)
    ok = encode_j2k(img, nl=1, cb=8)
    assert decode_jp2(b"") is None
    assert decode_jp2(b"payload that is not jpeg2000") is None
    assert decode_jp2(ok[:-10]) is None  # truncated
    # 9/7 irreversible flag (last SPcod byte of COD)
    i = ok.find(b"\xff\x52")
    ln = int.from_bytes(ok[i + 2 : i + 4], "big")
    bad = bytearray(ok)
    bad[i + 2 + ln - 1] = 0  # transform = 9/7
    assert decode_jp2(bytes(bad)) is None
    # quantization style != none
    j = ok.find(b"\xff\x5c")
    bad = bytearray(ok)
    bad[j + 4] |= 0x02
    assert decode_jp2(bytes(bad)) is None
    # DoS guard: declared dims exceed max_pixels
    assert decode_jp2(ok, max_pixels=16) is None


def test_fuzz_never_raises():
    ok = encode_j2k(_img(6, 6, 21), nl=1, cb=4)
    rng = np.random.default_rng(22)
    for _ in range(200):
        buf = bytearray(ok)
        for _k in range(rng.integers(1, 6)):
            buf[rng.integers(0, len(buf))] = rng.integers(0, 256)
        out = decode_jp2(bytes(buf), max_pixels=10_000)
        assert out is None or isinstance(out, np.ndarray)


# ---------------------------------------------------------------------------
# Spark media-kernel integration
# ---------------------------------------------------------------------------


def test_media_pipeline_jpx(spark):
    """A JP2 payload gets REAL dims and REAL pixels through the media
    kernels: its dHash equals the dHash of the same pixels as PNG —
    the same done-criterion shape as the G4 and JBIG2 integration
    pins."""
    from two_tier_document_parser_spark.multimodal import (
        _decode_stub,
        media_dhash,
    )
    from two_tier_document_parser_spark.png import encode_png_gray

    src = _img(24, 48, 30).astype(np.uint8)
    payload = wrap_jp2(encode_j2k(src, nl=2, cb=16), 48, 24)
    assert _decode_stub(payload) == (48, 24)

    media = spark.createDataFrame(
        [("jpx", "page_0_img_0", "image", payload),
         ("png", "page_0_img_0", "image", encode_png_gray(src))],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(media).collect()}
    assert got["jpx"] == got["png"]
    assert got["jpx"][1] is True
