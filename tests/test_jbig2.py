"""JBIG2 (ITU-T T.88) generic-region decoder: MQ-coder round trips
against an INDEPENDENT test-side encoder built from the ENCODER
flowcharts (E.3.6-E.3.8 — the decoder in the engine was written from
the decoder flowcharts E.3.2-E.3.5, so a transcription slip on
either side breaks the round trip), generic-region round trips
across all four templates / TPGDON / custom AT pixels, full
embedded-stream assembly (segment headers, page info, composition
operators, globals), the MMR leg, and honest-fallback gating for the
symbol/text profile the module scopes out."""

import numpy as np
import pytest

from two_tier_document_parser_spark.ccitt import encode_g4
from two_tier_document_parser_spark.jbig2 import (
    _QE,
    _LEGAL_TYPES,
    _TEMPLATES,
    NOMINAL_AT,
    _MQDecoder,
    _segments,
    decode_generic_region,
    decode_jbig2,
    decode_jbig2_gray,
    jbig2_dims,
)

# ---------------------------------------------------------------------------
# test-side MQ ENCODER (T.88 Annex E.3.6-E.3.8 / ISO 15444-1 —
# written from the encoder flowcharts, not by inverting the engine's
# decoder)
# ---------------------------------------------------------------------------


class MQEncoder:
    def __init__(self):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray()

    def _byteout(self):
        if self.out and self.out[-1] == 0xFF:
            self.out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
            return
        if self.c > 0x7FFFFFF:
            assert self.out, "carry before the first byte"
            self.out[-1] += 1
            if self.out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                self.out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
                return
        self.out.append((self.c >> 19) & 0xFF)
        self.c &= 0x7FFFF
        self.ct = 8

    def _renorm(self):
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def encode(self, state, cx, d):
        i, mps = state.get(cx, (0, 0))
        qe, nmps, nlps, switch = _QE[i]
        if d == mps:  # CODEMPS
            self.a -= qe
            if self.a & 0x8000 == 0:
                if self.a < qe:
                    self.a = qe
                else:
                    self.c += qe
                state[cx] = (nmps, mps)
                self._renorm()
            else:
                self.c += qe
        else:  # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            state[cx] = (nlps, mps ^ 1 if switch else mps)
            self._renorm()

    def flush(self) -> bytes:
        # SETBITS
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        if self.out and self.out[-1] == 0xFF:
            self.out.pop()
        return bytes(self.out)


def _ctx(bmp, x, y, template, at):
    """Spec context for (x, y): fixed figure pixels + AT pixels at
    their figure bit slots (T.88 figures 4-7)."""
    fixed, n_at, at_slots, _bits, _sltp = _TEMPLATES[template]
    h, w = bmp.shape
    cx = 0
    for dx, dy, slot in list(fixed) + [
        (ax, ay, s) for (ax, ay), s in zip(at, at_slots)
    ]:
        xx, yy = x + dx, y + dy
        if 0 <= xx < w and 0 <= yy < h and (yy < y or (yy == y and xx < x)):
            cx |= int(bmp[yy, xx]) << slot
    return cx


def encode_generic(bmp, template=0, at=None, tpgdon=False) -> bytes:
    at = tuple(at) if at is not None else NOMINAL_AT[template]
    sltp_cx = _TEMPLATES[template][4]
    enc = MQEncoder()
    state = {}
    h, _w = bmp.shape
    ltp = 0
    for y in range(h):
        if tpgdon:
            prev = bmp[y - 1] if y > 0 else np.zeros_like(bmp[0])
            typical = int(np.array_equal(bmp[y], prev))
            enc.encode(state, sltp_cx, ltp ^ typical)
            ltp = typical
            if ltp:
                continue
        for x in range(bmp.shape[1]):
            enc.encode(state, _ctx(bmp, x, y, template, at), int(bmp[y, x]))
    return enc.flush()


# ---------------------------------------------------------------------------
# test-side embedded-stream assembly (§7.2 headers)
# ---------------------------------------------------------------------------


def seg(segnum, stype, page, payload, page4=False, refs=()):
    b = bytearray(segnum.to_bytes(4, "big"))
    b.append(stype | (0x40 if page4 else 0))
    assert len(refs) <= 4, "short-form referred-to count only"
    b.append(len(refs) << 5)
    ref_sz = 1 if segnum <= 256 else (2 if segnum <= 65536 else 4)
    for r in refs:
        b += r.to_bytes(ref_sz, "big")
    b += page.to_bytes(4 if page4 else 1, "big")
    b += len(payload).to_bytes(4, "big")
    return bytes(b) + payload


def page_info(w, h, default=0):
    return (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + (0).to_bytes(4, "big")
        + (0).to_bytes(4, "big")
        + bytes([default << 2])
        + (0).to_bytes(2, "big")
    )


def generic_region_payload(
    bmp, x=0, y=0, comb=0, template=0, at=None, tpgdon=False, mmr=False
):
    h, w = bmp.shape
    head = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + x.to_bytes(4, "big")
        + y.to_bytes(4, "big")
        + bytes([comb])
    )
    if mmr:
        return head + bytes([1]) + encode_g4(bmp, eofb=False)
    at = tuple(at) if at is not None else NOMINAL_AT[template]
    gflags = (template << 1) | (8 if tpgdon else 0)
    at_bytes = b"".join(
        ax.to_bytes(1, "big", signed=True) + ay.to_bytes(1, "big", signed=True)
        for ax, ay in at
    )
    return head + bytes([gflags]) + at_bytes + encode_generic(
        bmp, template=template, at=at, tpgdon=tpgdon
    )


def stream(*segments):
    return b"".join(segments)


# ---------------------------------------------------------------------------
# test-side symbol-dictionary / text-region ENCODERS (written from the
# T.88 §6.4/§6.5/Annex A ENCODING direction, independent of the engine)
# ---------------------------------------------------------------------------

OOB = object()


def encode_int(enc, state, v):
    """Annex A.2 IAx forward coder: sign + range prefix + offset bits,
    context chained through PREV exactly as the spec table A.1."""
    prev = 1

    def bit(b):
        nonlocal prev
        enc.encode(state, prev, b)
        prev = (
            ((prev << 1) | b)
            if prev < 256
            else ((((prev << 1) | b) & 511) | 256)
        )

    if v is OOB:
        s, mag = 1, 0
    else:
        s, mag = (1, -v) if v < 0 else (0, v)
    bit(s)
    # range prefixes 0 / 10 / 110 / 1110 / 11110 / 11111 (table A.1)
    ranges = ((0, 2), (4, 4), (20, 6), (84, 8), (340, 12), (4436, 32))
    for k, (lo, nbits) in enumerate(ranges):
        if mag < lo + (1 << nbits) or k == 5:
            for _ in range(k):
                bit(1)
            if k < 5:
                bit(0)
            for j in range(nbits - 1, -1, -1):
                bit((mag - lo) >> j & 1)
            break


def encode_iaid(enc, state, sid, codelen):
    prev = 1
    for j in range(codelen - 1, -1, -1):
        b = (sid >> j) & 1
        enc.encode(state, prev, b)
        prev = (prev << 1) | b


def symbol_dict_payload(symbols, template=0, at=None, in_count=0):
    """§7.4.3 arithmetic symbol dictionary exporting ALL symbols
    (input symbols first when in_count > 0), grouping consecutive
    equal-height symbols into height classes."""
    at = tuple(at) if at is not None else NOMINAL_AT[template]
    flags = template << 10
    at_bytes = b"".join(
        ax.to_bytes(1, "big", signed=True) + ay.to_bytes(1, "big", signed=True)
        for ax, ay in at
    )
    numnew = len(symbols)
    numex = in_count + numnew
    head = (
        flags.to_bytes(2, "big")
        + at_bytes
        + numex.to_bytes(4, "big")
        + numnew.to_bytes(4, "big")
    )
    enc = MQEncoder()
    iadh, iadw, iaex, gb = {}, {}, {}, {}
    hc = 0
    i = 0
    while i < numnew:
        h = symbols[i].shape[0]
        encode_int(enc, iadh, h - hc)
        hc = h
        symwidth = 0
        while i < numnew and symbols[i].shape[0] == hc:
            w = symbols[i].shape[1]
            encode_int(enc, iadw, w - symwidth)
            symwidth = w
            bmp = symbols[i]
            for y in range(hc):
                for x in range(w):
                    enc.encode(
                        gb, _ctx(bmp, x, y, template, at), int(bmp[y, x])
                    )
            i += 1
        encode_int(enc, iadw, OOB)
    # export runs: exclude 0, include everything
    encode_int(enc, iaex, 0)
    encode_int(enc, iaex, numex)
    return head + enc.flush()


def text_region_payload(
    instances,
    nsyms,
    w,
    h,
    x=0,
    y=0,
    comb=0,
    refcorner=1,
    combop=0,
    defpixel=0,
    dsoffset=0,
    sym_widths=None,
):
    """§7.4.4 arithmetic text region with SBSTRIPS=1: `instances` is a
    list of (s_left, t, sid) sorted by t then s; symbols sharing a t
    share one strip. `sym_widths[sid]` drives the CURS advance."""
    flags = (
        (refcorner << 4) | (combop << 7) | (defpixel << 9)
        | ((dsoffset & 0x1F) << 10)
    )
    head = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + x.to_bytes(4, "big")
        + y.to_bytes(4, "big")
        + bytes([comb])
        + flags.to_bytes(2, "big")
        + len(instances).to_bytes(4, "big")
    )
    codelen = max(0, (nsyms - 1).bit_length())
    enc = MQEncoder()
    iadt, iafs, iads, iaid = {}, {}, {}, {}
    # group into strips of equal t
    strips = []
    for s_left, t, sid in instances:
        if strips and strips[-1][0] == t:
            strips[-1][1].append((s_left, sid))
        else:
            strips.append((t, [(s_left, sid)]))
    encode_int(enc, iadt, 0)  # STRIPT starts at 0
    stript = 0
    firsts = 0
    placed = 0
    for t, members in strips:
        encode_int(enc, iadt, t - stript)
        stript = t
        curs = 0
        for k, (s_left, sid) in enumerate(members):
            if k == 0:
                encode_int(enc, iafs, s_left - firsts)
                firsts = s_left
                curs = firsts
            else:
                encode_int(enc, iads, s_left - curs - dsoffset)
                curs = s_left
            encode_iaid(enc, iaid, sid, codelen)
            curs += sym_widths[sid] - 1
            placed += 1
        if placed < len(instances):
            encode_int(enc, iads, OOB)
    return head + enc.flush()


def _rand(h, w, p, seed):
    return (np.random.default_rng(seed).random((h, w)) < p).astype(np.uint8)


# ---------------------------------------------------------------------------
# MQ coder
# ---------------------------------------------------------------------------


def test_qe_table_invariants():
    """47 states; Qe in (0, 0x5601]; NMPS/NLPS stay in range; only
    the documented states carry SWITCH (E.1)."""
    assert len(_QE) == 47
    for i, (qe, nmps, nlps, switch) in enumerate(_QE):
        assert 0 < qe <= 0x5601
        assert 0 <= nmps < 47 and 0 <= nlps < 47
        assert switch in (0, 1)
        assert switch == (1 if qe == 0x5601 and i in (0, 6, 14) else 0)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_mq_round_trip_single_context(seed):
    rng = np.random.default_rng(seed)
    # skew per-seed: balanced, MPS-heavy, LPS-heavy, bursty
    p = [0.5, 0.05, 0.95, 0.3][seed]
    bits = (rng.random(4000) < p).astype(int).tolist()
    enc = MQEncoder()
    st = {}
    for b in bits:
        enc.encode(st, 0, b)
    data = enc.flush()
    dec = _MQDecoder(data)
    icx = np.zeros(1, dtype=np.uint8)
    mcx = np.zeros(1, dtype=np.uint8)
    assert [dec.decode(icx, mcx, 0) for _ in bits] == bits


def test_mq_round_trip_many_contexts():
    rng = np.random.default_rng(7)
    cxs = rng.integers(0, 19, 5000)
    bits = (rng.random(5000) < (cxs / 19)).astype(int)
    enc = MQEncoder()
    st = {}
    for c, b in zip(cxs, bits):
        enc.encode(st, int(c), int(b))
    data = enc.flush()
    dec = _MQDecoder(data)
    icx = np.zeros(32, dtype=np.uint8)
    mcx = np.zeros(32, dtype=np.uint8)
    out = [dec.decode(icx, mcx, int(c)) for c in cxs]
    assert out == bits.tolist()


def test_mq_stuffing_after_ff():
    """A run that forces 0xFF bytes into the stream exercises the
    7-bit stuffing path on both sides."""
    enc = MQEncoder()
    st = {}
    bits = ([1] * 100 + [0]) * 40
    for b in bits:
        enc.encode(st, 0, b)
    data = enc.flush()
    dec = _MQDecoder(data)
    icx = np.zeros(1, dtype=np.uint8)
    mcx = np.zeros(1, dtype=np.uint8)
    assert [dec.decode(icx, mcx, 0) for _ in bits] == bits


# ---------------------------------------------------------------------------
# generic region
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("template", [0, 1, 2, 3])
def test_generic_round_trip_templates(template):
    for h, w, p, seed in [
        (1, 1, 0.5, 0), (3, 9, 0.4, 1), (17, 31, 0.2, 2),
        (8, 64, 0.8, 3), (5, 5, 0.0, 4), (5, 5, 1.0, 5),
    ]:
        bmp = _rand(h, w, p, seed)
        data = encode_generic(bmp, template=template)
        got = decode_generic_region(data, w, h, template=template)
        assert np.array_equal(got, bmp), (template, h, w, p)


@pytest.mark.parametrize("template", [0, 1, 2, 3])
def test_generic_round_trip_tpgdon(template):
    """Bitmaps with repeated rows so typical-prediction actually
    fires (incl. the all-zero leading rows / row-0 edge)."""
    base = _rand(4, 23, 0.3, 9)
    bmp = np.vstack([np.zeros((2, 23), np.uint8), base, base[-1:], base])
    data = encode_generic(bmp, template=template, tpgdon=True)
    got = decode_generic_region(
        data, bmp.shape[1], bmp.shape[0], template=template, tpgdon=True
    )
    assert np.array_equal(got, bmp)


def test_generic_round_trip_custom_at():
    """Non-nominal AT pixels change the context function on both
    sides and must still round-trip (template 0 moves all four)."""
    bmp = _rand(12, 20, 0.35, 11)
    at = ((1, -1), (-2, 0), (3, -2), (-1, -2))
    data = encode_generic(bmp, template=0, at=at)
    got = decode_generic_region(data, 20, 12, template=0, at=at)
    assert np.array_equal(got, bmp)
    # and a template-2 single-AT variant
    at2 = ((-3, 0),)
    data2 = encode_generic(bmpp := _rand(7, 15, 0.5, 12), template=2, at=at2)
    assert np.array_equal(
        decode_generic_region(data2, 15, 7, template=2, at=at2), bmpp
    )


def test_generic_differs_when_at_mismatches():
    """Decoding with the wrong AT must NOT reproduce the bitmap —
    guards against a context function that silently ignores AT."""
    bmp = _rand(16, 24, 0.4, 13)
    data = encode_generic(bmp, template=0, at=((1, -1), (-2, 0), (3, -2), (-1, -2)))
    got = decode_generic_region(data, 24, 16, template=0)  # nominal AT
    assert not np.array_equal(got, bmp)


# ---------------------------------------------------------------------------
# embedded streams
# ---------------------------------------------------------------------------


def test_stream_single_region():
    bmp = _rand(10, 14, 0.3, 21)
    data = stream(
        seg(0, 48, 1, page_info(14, 10)),
        seg(1, 38, 1, generic_region_payload(bmp)),
    )
    assert np.array_equal(decode_jbig2(data), bmp)
    gray = decode_jbig2_gray(data)
    assert np.array_equal(gray, np.where(bmp == 1, 0, 255).astype(np.uint8))
    assert jbig2_dims(data) == (14, 10)  # header walk agrees


def test_stream_page4_assoc_and_file_header():
    """4-byte page association flag and the standalone §9.1 file
    header are both parsed past."""
    bmp = _rand(6, 8, 0.5, 22)
    body = stream(
        seg(0, 48, 1, page_info(8, 6), page4=True),
        seg(1, 38, 1, generic_region_payload(bmp), page4=True),
    )
    magic = b"\x97JB2\r\n\x1a\n"
    assert np.array_equal(decode_jbig2(body), bmp)
    assert np.array_equal(decode_jbig2(magic + bytes([2]) + body), bmp)
    # file header WITH page count (flag bit 1 clear -> 4 extra bytes)
    assert np.array_equal(
        decode_jbig2(magic + bytes([0]) + (1).to_bytes(4, "big") + body), bmp
    )


def test_stream_composition_ops():
    """Two overlapping regions per operator; expected page computed
    with plain numpy."""
    a = _rand(8, 8, 0.5, 31)
    b = _rand(8, 8, 0.5, 32)
    for comb, fn in [
        (0, lambda x, y: x | y),
        (1, lambda x, y: x & y),
        (2, lambda x, y: x ^ y),
        (3, lambda x, y: 1 - (x ^ y)),
        (4, lambda x, y: y),
    ]:
        data = stream(
            seg(0, 48, 1, page_info(8, 8)),
            seg(1, 38, 1, generic_region_payload(a)),
            seg(2, 38, 1, generic_region_payload(b, comb=comb)),
        )
        assert np.array_equal(decode_jbig2(data), fn(a, b)), comb


def test_stream_offset_region_and_default_pixel():
    bmp = _rand(4, 5, 0.6, 41)
    data = stream(
        seg(0, 48, 1, page_info(12, 9, default=1)),
        seg(1, 38, 1, generic_region_payload(bmp, x=6, y=3, comb=4)),
    )
    expect = np.ones((9, 12), np.uint8)
    expect[3:7, 6:11] = bmp
    assert np.array_equal(decode_jbig2(data), expect)


def test_stream_unknown_page_height_uses_regions():
    bmp = _rand(5, 7, 0.4, 43)
    data = stream(
        seg(0, 48, 1, page_info(7, 0xFFFFFFFF)),
        seg(1, 38, 1, generic_region_payload(bmp, y=2)),
        seg(2, 50, 1, (6).to_bytes(4, "big")),  # end-of-stripe: skipped
    )
    got = decode_jbig2(data)
    assert got.shape == (7, 7)
    assert np.array_equal(got[2:], bmp)


def test_stream_mmr_region():
    bmp = _rand(9, 33, 0.25, 44)
    data = stream(
        seg(0, 48, 1, page_info(33, 9)),
        seg(1, 38, 1, generic_region_payload(bmp, mmr=True)),
    )
    assert np.array_equal(decode_jbig2(data), bmp)


def test_stream_globals_prepend():
    """PDF /JBIG2Globals: page info shipped in the globals stream,
    region in the page stream."""
    bmp = _rand(6, 6, 0.5, 45)
    g = seg(0, 48, 1, page_info(6, 6))
    d = seg(1, 38, 1, generic_region_payload(bmp))
    assert np.array_equal(decode_jbig2(d, globals_data=g), bmp)


# ---------------------------------------------------------------------------
# symbol dictionary + text region round trips
# ---------------------------------------------------------------------------

_GLYPHS = [
    np.array([[0, 1, 0], [1, 0, 1], [1, 1, 1], [1, 0, 1]], dtype=np.uint8),
    np.array([[1, 1, 1, 0], [1, 0, 0, 1], [1, 1, 1, 0], [1, 0, 0, 1]],
             dtype=np.uint8),
    np.array([[1, 1], [1, 0], [1, 0]], dtype=np.uint8),  # new height class
]


def _paste_expect(page, sym, sx, ty, op=0):
    h, w = sym.shape
    ph, pw = page.shape
    h = min(h, ph - ty)
    w = min(w, pw - sx)
    if op == 0:
        page[ty : ty + h, sx : sx + w] |= sym[:h, :w]
    else:
        page[ty : ty + h, sx : sx + w] = sym[:h, :w]


@pytest.mark.parametrize("template", [0, 2])
def test_symbol_text_round_trip(template):
    """Dict of three glyphs (two height classes) + a text region
    placing eight instances across three strips — decoded page equals
    the numpy-pasted expectation pixel for pixel."""
    widths = [g.shape[1] for g in _GLYPHS]
    inst = [
        (0, 0, 0), (5, 0, 1), (11, 0, 2),
        (2, 6, 2), (6, 6, 0),
        (0, 12, 1), (6, 12, 1), (12, 12, 0),
    ]
    payload = text_region_payload(
        inst, len(_GLYPHS), w=16, h=17, sym_widths=widths
    )
    data = stream(
        seg(0, 48, 1, page_info(16, 17)),
        seg(1, 0, 1, symbol_dict_payload(_GLYPHS, template=template)),
        seg(2, 6, 1, payload, refs=(1,)),
    )
    got = decode_jbig2(data)
    assert got is not None
    expect = np.zeros((17, 16), dtype=np.uint8)
    for s, t, sid in inst:
        _paste_expect(expect, _GLYPHS[sid], s, t)  # refcorner=TOPLEFT
    assert np.array_equal(got, expect)


def test_text_region_bottomleft_and_offset():
    """REFCORNER=BOTTOMLEFT places T at the glyph's bottom row; the
    region's own (x, y) offset shifts the page composition; a
    non-zero SBDSOFFSET round-trips through the IADS deltas."""
    widths = [g.shape[1] for g in _GLYPHS]
    inst = [(1, 5, 0), (6, 5, 2), (2, 11, 1)]
    payload = text_region_payload(
        inst, len(_GLYPHS), w=12, h=12, x=3, y=2,
        refcorner=0, dsoffset=-2, sym_widths=widths,
    )
    data = stream(
        seg(0, 48, 1, page_info(16, 15)),
        seg(1, 0, 1, symbol_dict_payload(_GLYPHS)),
        seg(2, 6, 1, payload, refs=(1,)),
    )
    got = decode_jbig2(data)
    assert got is not None
    expect = np.zeros((15, 16), dtype=np.uint8)
    for s, t, sid in inst:
        g = _GLYPHS[sid]
        _paste_expect(expect, g, 3 + s, 2 + t - g.shape[0] + 1)
    assert np.array_equal(got, expect)


def test_symbol_dict_chained_inputs():
    """Dict B refers to dict A: A's exports become B's input symbols
    and are re-exported ahead of B's new glyphs (§6.5.8 input symbol
    ordering), so the text region's symbol ids span both dicts."""
    a_syms = [_GLYPHS[0]]
    b_syms = [_GLYPHS[1], _GLYPHS[2]]
    widths = [g.shape[1] for g in a_syms + b_syms]
    inst = [(0, 0, 0), (4, 0, 1), (10, 0, 2)]
    payload = text_region_payload(
        inst, 3, w=13, h=5, sym_widths=widths
    )
    data = stream(
        seg(0, 48, 1, page_info(13, 5)),
        seg(1, 0, 1, symbol_dict_payload(a_syms)),
        seg(2, 0, 1, symbol_dict_payload(b_syms, in_count=1), refs=(1,)),
        seg(3, 6, 1, payload, refs=(2,)),
    )
    got = decode_jbig2(data)
    assert got is not None
    expect = np.zeros((5, 13), dtype=np.uint8)
    for s, t, sid in inst:
        _paste_expect(expect, (a_syms + b_syms)[sid], s, t)
    assert np.array_equal(got, expect)


def test_text_region_out_of_profile_variants():
    """SBHUFF / TRANSPOSED text regions and SDHUFF / SDREFAGG dicts
    fall back to None instead of decoding garbage."""
    widths = [g.shape[1] for g in _GLYPHS]
    ok_text = text_region_payload(
        [(0, 0, 0)], len(_GLYPHS), w=8, h=8, sym_widths=widths
    )
    ok_dict = symbol_dict_payload(_GLYPHS)

    def build(dict_payload, text_payload):
        return stream(
            seg(0, 48, 1, page_info(8, 8)),
            seg(1, 0, 1, dict_payload),
            seg(2, 6, 1, text_payload, refs=(1,)),
        )

    assert decode_jbig2(build(ok_dict, ok_text)) is not None
    # SBHUFF=1 (bit 0 of the text flags at offset 17)
    huff = bytearray(ok_text)
    huff[18] |= 0x01
    assert decode_jbig2(build(ok_dict, bytes(huff))) is None
    # TRANSPOSED=1 (bit 6, low flag byte at offset 18)
    trans = bytearray(ok_text)
    trans[18] |= 0x40
    assert decode_jbig2(build(ok_dict, bytes(trans))) is None
    # SDHUFF=1 / SDREFAGG=1 (bits 0/1 of the dict flags)
    for bad_bit in (0x01, 0x02):
        d = bytearray(ok_dict)
        d[1] |= bad_bit
        assert decode_jbig2(build(bytes(d), ok_text)) is None
    # text region referring to a non-dictionary segment
    assert (
        decode_jbig2(
            stream(
                seg(0, 48, 1, page_info(8, 8)),
                seg(2, 6, 1, ok_text, refs=(7,)),
            )
        )
        is None
    )


def test_honest_fallbacks():
    """Out-of-profile or malformed streams return None, never
    garbage pixels or exceptions."""
    bmp = _rand(4, 4, 0.5, 51)
    ok = stream(
        seg(0, 48, 1, page_info(4, 4)), seg(1, 38, 1, generic_region_payload(bmp))
    )
    assert decode_jbig2(b"") is None
    assert decode_jbig2(b"not jbig2 at all") is None
    assert decode_jbig2(ok[:-3]) is None  # truncated segment data
    # garbage text region payload -> None (zero-sized region)
    text = stream(seg(0, 48, 1, page_info(4, 4)), seg(1, 6, 1, b"\0" * 20))
    assert decode_jbig2(text) is None
    # truncated symbol dictionary header -> None
    sym = stream(seg(0, 0, 0, b"\0" * 12), ok)
    assert decode_jbig2(sym) is None
    # unknown-length generic region -> scoped out
    unk = stream(
        seg(0, 48, 1, page_info(4, 4)),
        seg(1, 38, 1, b"")[:-4] + b"\xff\xff\xff\xff",
    )
    assert decode_jbig2(unk) is None
    # reserved combination operator -> None
    bad = stream(
        seg(0, 48, 1, page_info(4, 4)),
        seg(1, 38, 1, generic_region_payload(bmp, comb=5)),
    )
    assert decode_jbig2(bad) is None


# ITU-T T.88 §7.3 Table 2: every segment type the standard defines
T88_SEGMENT_TYPES = {
    0,  # symbol dictionary
    4, 6, 7,  # intermediate / immediate / immediate lossless text region
    16,  # pattern dictionary
    20, 22, 23,  # halftone regions
    36, 38, 39,  # generic regions
    40, 42, 43,  # generic refinement regions
    48, 49, 50, 51,  # page information, end of page / stripe / file
    52, 53, 62,  # profiles, tables, extension
}


def test_type5_first_segment_rejected_by_dims_and_decoder():
    """Type 5 is not a T.88 segment type: a stream that starts with
    one is not JBIG2, for the segment walk, the decoder and the dims
    path alike — all three read the one legal-type set."""
    assert _LEGAL_TYPES == T88_SEGMENT_TYPES
    bmp = _rand(6, 9, 0.3, 53)
    rest = stream(
        seg(1, 48, 1, page_info(9, 6)),
        seg(2, 38, 1, generic_region_payload(bmp)),
    )
    data = seg(0, 5, 1, b"\0" * 4) + rest
    with pytest.raises(ValueError):
        list(_segments(data))
    assert decode_jbig2(data) is None
    assert jbig2_dims(data) is None
    # the same stream without the type-5 segment is fine
    assert jbig2_dims(rest) == (9, 6)
    assert np.array_equal(decode_jbig2(rest), bmp)


def test_media_pipeline_jbig2(spark):
    """End-to-end through the Spark kernels: a JBIG2 embedded stream
    gets REAL dims from extract_media_features' decode path and REAL
    pixels in media_dhash (its dHash equals the same pixels' as PNG)
    — the same done-criterion shape as test_media_pipeline_g4."""
    from two_tier_document_parser_spark.multimodal import (
        _decode_stub,
        media_dhash,
    )
    from two_tier_document_parser_spark.png import encode_png_gray

    bits = _rand(24, 48, 0.3, 61)
    payload = stream(
        seg(0, 48, 1, page_info(48, 24)),
        seg(1, 38, 1, generic_region_payload(bits)),
    )
    assert _decode_stub(payload) == (48, 24)
    src = np.where(bits == 1, 0, 255).astype(np.uint8)

    media = spark.createDataFrame(
        [("jb2", "page_0_img_0", "image", payload),
         ("png", "page_0_img_0", "image", encode_png_gray(src))],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(media).collect()}
    assert got["jb2"] == got["png"]
    assert got["jb2"][1] is True


def test_fallback_never_raises_on_fuzz():
    rng = np.random.default_rng(99)
    ok = stream(
        seg(0, 48, 1, page_info(6, 6)),
        seg(1, 38, 1, generic_region_payload(_rand(6, 6, 0.5, 52))),
    )
    for trial in range(200):
        buf = bytearray(ok)
        for _ in range(rng.integers(1, 6)):
            buf[rng.integers(0, len(buf))] = rng.integers(0, 256)
        # tight max_pixels: a mutated width must not buy minutes of
        # sequential decode work inside the fuzz loop (the cap is the
        # engine's own DoS guard, exercised here)
        out = decode_jbig2(bytes(buf), max_pixels=10_000)  # must not raise
        assert out is None or out.dtype == np.uint8
