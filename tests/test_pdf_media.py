"""extract_pdf_media: embedded-image lifting from PDF bytes into the
media table — payload normalisation per codec family (raw/CCITT ->
PNG, DCT/JPX byte-exact passthrough, JBIG2 with /JBIG2Globals
PREPENDED), page_{p}_img_{i} ids in content-stream execution order
with cross-page first-seen dedup, the encrypted-PDF path, and
honest-fallback/fuzz gates. Reference parity: the accurate tier
exports every embedded image (accurate/service.py:177)."""

import sys
import zlib
from pathlib import Path

import numpy as np

from two_tier_document_parser_spark.jbig2 import decode_jbig2_gray
from two_tier_document_parser_spark.pdf_io import (
    _PdfWriter,
    _hex_str,
    _pdf_media_inner,
    encrypt_pdf,
    extract_pdf_media,
    render_media_pdf,
    render_media_table,
)
from two_tier_document_parser_spark.png import decode_png_gray, luma_bt601

sys.path.insert(0, str(Path(__file__).resolve().parent))


def build_pdf(images, content_ops=None, pages=1):
    """Minimal PDF embedding `images` = list of (dict_extra bytes,
    payload bytes); every page's content invokes every image in
    order unless content_ops overrides per page."""
    w = _PdfWriter()
    im_nums = []
    for extra, payload in images:
        im_nums.append(
            w.add(
                b"<< /Type /XObject /Subtype /Image " + extra
                + b" /Length %d >>\nstream\n" % len(payload)
                + payload + b"\nendstream"
            )
        )
    page_nums = []
    cnums = []
    for p in range(pages):
        ops = (
            content_ops[p]
            if content_ops is not None
            else b"".join(
                b"q /Im%d Do Q\n" % i for i in range(len(im_nums))
            )
        )
        cnums.append(
            w.add(
                b"<< /Length %d >>\nstream\n" % len(ops)
                + ops + b"\nendstream"
            )
        )
    pages_num = w.next_num + pages
    xo = b" ".join(
        b"/Im%d %d 0 R" % (i, n) for i, n in enumerate(im_nums)
    )
    for p in range(pages):
        page_nums.append(
            w.add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792]"
                b" /Contents %d 0 R /Resources << /XObject << %s >> >> >>"
                % (pages_num, cnums[p], xo)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_nums)
    real = w.add(
        b"<< /Type /Pages /Kids [ %s ] /Count %d >>" % (kids, pages)
    )
    assert real == pages_num
    root = w.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num)
    info = w.add(b"<< /Producer " + _hex_str("t") + b" >>")
    return w.finish(root, info)


def test_render_extract_round_trip():
    """The synthetic producer's two images lift with exact ids, dims,
    codecs, and pixel values (the derivation the DuckDB oracle
    replicates)."""
    for did in (0, 7, 250, 9999):
        rows = _pdf_media_inner(render_media_pdf(did))
        assert [r["media_ref"] for r in rows] == [
            "page_0_img_0", "page_0_img_1", "page_0_img_2"
        ]
        r0, r1, r2 = rows
        w0, h0 = 8 + did % 16, 6 + did % 12
        assert (r0["codec"], r0["width"], r0["height"]) == ("raw", w0, h0)
        assert np.array_equal(
            decode_png_gray(r0["payload"]),
            ((np.arange(w0 * h0) + did) % 251)
            .astype(np.uint8).reshape(h0, w0),
        )
        w1, h1 = 16 + did % 8, 8 + did % 4
        assert (r1["codec"], r1["width"], r1["height"]) == (
            "ccitt", w1, h1,
        )
        assert np.array_equal(
            decode_png_gray(r1["payload"]),
            np.where(
                ((np.arange(w1 * h1) + did) % 3).reshape(h1, w1) == 0,
                0, 255,
            ).astype(np.uint8),
        )
        w2, h2 = 12 + did % 6, 6 + did % 5
        assert (r2["codec"], r2["width"], r2["height"]) == (
            "ccitt", w2, h2,
        )
        assert np.array_equal(
            decode_png_gray(r2["payload"]),
            np.where(
                ((np.arange(w2 * h2) + did) % 4).reshape(h2, w2) == 0,
                0, 255,
            ).astype(np.uint8),
        )


def test_dct_jpx_passthrough_byte_exact():
    """Terminal DCT/JPX streams pass through BYTE-EXACT — the
    compressed pixels are the payload (ISO 32000 §7.4.8/§7.4.9)."""
    jpeg_bytes = b"\xff\xd8\xff\xdb fake-jpeg-payload \xff\xd9"
    jpx_bytes = b"\x00\x00\x00\x0cjP  \r\n\x87\n fake-jpx"
    pdf = build_pdf(
        [
            (
                b"/Width 3 /Height 2 /ColorSpace /DeviceRGB"
                b" /BitsPerComponent 8 /Filter /DCTDecode",
                jpeg_bytes,
            ),
            (
                b"/Width 4 /Height 4 /ColorSpace /DeviceGray"
                b" /BitsPerComponent 8 /Filter /JPXDecode",
                jpx_bytes,
            ),
        ]
    )
    rows = _pdf_media_inner(pdf)
    assert [(r["media_ref"], r["codec"]) for r in rows] == [
        ("page_0_img_0", "jpeg"), ("page_0_img_1", "jp2"),
    ]
    assert rows[0]["payload"] == jpeg_bytes
    assert rows[1]["payload"] == jpx_bytes
    assert (rows[0]["width"], rows[0]["height"]) == (3, 2)


def test_jbig2_globals_prepended_and_decodable():
    """A JBIG2 image whose symbol dictionary lives in the
    /JBIG2Globals stream lifts with the globals PREPENDED (T.88 §9
    embedded organisation), so the OCR-profile decoder reconstructs
    the exact page."""
    from test_jbig2 import (
        _GLYPHS,
        _paste_expect,
        page_info,
        seg,
        stream,
        symbol_dict_payload,
        text_region_payload,
    )

    widths = [g.shape[1] for g in _GLYPHS]
    inst = [(0, 0, 0), (5, 0, 1), (2, 6, 2)]
    gdata = stream(seg(0, 0, 0, symbol_dict_payload(_GLYPHS)))
    emb = stream(
        seg(1, 48, 1, page_info(12, 11)),
        seg(
            2, 6, 1,
            text_region_payload(inst, len(_GLYPHS), w=12, h=11,
                                sym_widths=widths),
            refs=(0,),
        ),
    )
    gcomp = zlib.compress(gdata)
    w = _PdfWriter()
    gnum = w.add(
        b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(gcomp)
        + gcomp + b"\nendstream"
    )
    im = w.add(
        b"<< /Type /XObject /Subtype /Image /Width 12 /Height 11"
        b" /ColorSpace /DeviceGray /BitsPerComponent 1"
        b" /Filter /JBIG2Decode"
        b" /DecodeParms << /JBIG2Globals %d 0 R >>"
        b" /Length %d >>\nstream\n" % (gnum, len(emb))
        + emb + b"\nendstream"
    )
    content = b"q /Im0 Do Q\n"
    cnum = w.add(
        b"<< /Length %d >>\nstream\n" % len(content)
        + content + b"\nendstream"
    )
    pages_num = w.next_num + 1
    pnum = w.add(
        b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792]"
        b" /Contents %d 0 R /Resources"
        b" << /XObject << /Im0 %d 0 R >> >> >>" % (pages_num, cnum, im)
    )
    real = w.add(b"<< /Type /Pages /Kids [ %d 0 R ] /Count 1 >>" % pnum)
    assert real == pages_num
    root = w.add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num)
    info = w.add(b"<< /Producer " + _hex_str("t") + b" >>")
    pdf = w.finish(root, info)

    (row,) = _pdf_media_inner(pdf)
    assert row["codec"] == "jbig2"
    assert row["payload"].startswith(gdata)  # globals really prepended
    got = decode_jbig2_gray(row["payload"])
    expect = np.zeros((11, 12), dtype=np.uint8)
    for s, t, sid in inst:
        _paste_expect(expect, _GLYPHS[sid], s, t)
    assert np.array_equal(got, np.where(expect == 1, 0, 255))


def test_first_seen_across_pages_and_reuse():
    """An XObject invoked twice on page 0 and again on page 1 lifts
    exactly once, at its first use; a second distinct image on page 1
    gets that page's counter."""
    pix = bytes(range(24))
    comp = zlib.compress(pix)
    images = [
        (
            b"/Width 6 /Height 4 /ColorSpace /DeviceGray"
            b" /BitsPerComponent 8 /Filter /FlateDecode",
            comp,
        ),
        (
            b"/Width 4 /Height 6 /ColorSpace /DeviceGray"
            b" /BitsPerComponent 8 /Filter /FlateDecode",
            comp,
        ),
    ]
    pdf = build_pdf(
        images,
        content_ops=[
            b"q /Im0 Do Q q /Im0 Do Q\n",        # page 0: Im0 twice
            b"q /Im0 Do Q q /Im1 Do Q\n",        # page 1: reuse + new
        ],
        pages=2,
    )
    rows = _pdf_media_inner(pdf)
    assert [(r["media_ref"], r["width"], r["height"]) for r in rows] == [
        ("page_0_img_0", 6, 4), ("page_1_img_0", 4, 6),
    ]


def test_one_bit_and_rgb_raw_normalise():
    """1-bit DeviceGray unpacks row-padded bits (1 = white); 8-bit
    DeviceRGB reduces by the repo's BT.601 integer luma
    (png.luma_bt601)."""
    # 10 px wide -> 2-byte stride; rows: 0xFF 0xC0 then 0x00 0x00
    onebit = bytes([0xFF, 0xC0, 0x00, 0x00])
    rgb = np.zeros((2, 3, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)
    rgb[1, 2] = (0, 255, 0)
    pdf = build_pdf(
        [
            (
                b"/Width 10 /Height 2 /ColorSpace /DeviceGray"
                b" /BitsPerComponent 1",
                onebit,
            ),
            (
                b"/Width 3 /Height 2 /ColorSpace /DeviceRGB"
                b" /BitsPerComponent 8 /Filter /FlateDecode",
                zlib.compress(rgb.tobytes()),
            ),
        ]
    )
    rows = _pdf_media_inner(pdf)
    g0 = decode_png_gray(rows[0]["payload"])
    assert g0.shape == (2, 10)
    assert list(g0[0]) == [255] * 10 and list(g0[1]) == [0] * 10
    g1 = decode_png_gray(rows[1]["payload"])
    assert g1[0, 0] == luma_bt601(255, 0, 0)
    assert g1[1, 2] == luma_bt601(0, 255, 0)
    assert g1[0, 1] == 0


def test_opaque_fallbacks_keep_bytes():
    """Unsupported layouts (Indexed colorspace) and MALFORMED CCITT
    streams (K>0 now decodes — this payload is junk with no EOL) keep
    their stream bytes with an -opaque codec — never garbage
    pixels."""
    pdf = build_pdf(
        [
            (
                b"/Width 4 /Height 4 /ColorSpace [/Indexed /DeviceRGB"
                b" 1 <000000FFFFFF>] /BitsPerComponent 8",
                b"\x00\x01" * 8,
            ),
            (
                b"/Width 8 /Height 2 /ColorSpace /DeviceGray"
                b" /BitsPerComponent 1 /Filter /CCITTFaxDecode"
                b" /DecodeParms << /K 4 /Columns 8 /Rows 2 >>",
                b"\xaa\xbb",
            ),
        ]
    )
    rows = _pdf_media_inner(pdf)
    assert rows[0]["codec"] == "raw-opaque"
    assert rows[0]["payload"] == b"\x00\x01" * 8
    assert rows[1]["codec"] == "ccitt-opaque"
    assert rows[1]["payload"] == b"\xaa\xbb"


def test_encrypted_pdf_media():
    """Image streams inside an encrypted PDF decrypt in-line and lift
    byte-identical rows to the plaintext file — for every supported
    cipher regime."""
    plain = render_media_pdf(42)
    expect = _pdf_media_inner(plain)
    for cipher, nbits in (("rc4", 40), ("rc4", 128), ("aes", 128),
                          ("aes", 256)):
        enc = encrypt_pdf(plain, cipher=cipher, nbits=nbits)
        assert enc != plain
        rows = _pdf_media_inner(enc)
        assert [
            (r["media_ref"], r["codec"], r["payload"]) for r in rows
        ] == [
            (r["media_ref"], r["codec"], r["payload"]) for r in expect
        ], (cipher, nbits)


def test_malformed_never_raises():
    rng = np.random.default_rng(77)
    ok = render_media_pdf(3)
    assert _pdf_media_inner(b"") == []
    assert _pdf_media_inner(b"%PDF-1.4 nothing here") == []
    for _ in range(60):
        buf = bytearray(ok)
        for _ in range(rng.integers(1, 8)):
            buf[rng.integers(0, len(buf))] = rng.integers(0, 256)
        rows = _pdf_media_inner(bytes(buf))  # must not raise
        assert isinstance(rows, list)


def test_spark_media_table(spark):
    """End-to-end through the Arrow kernels: documents -> media PDFs
    -> extracted media rows, one pair per doc, schema stable, and the
    payloads decode downstream in media_dhash with
    real_pixels=true."""
    from two_tier_document_parser_spark.multimodal import media_dhash

    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    media = extract_pdf_media(render_media_table(docs))
    rows = media.collect()
    assert len(rows) == 36
    assert {r.codec for r in rows} == {"raw", "ccitt"}
    dh = media_dhash(
        media.select("doc_id", "media_ref", "kind", "payload")
    ).collect()
    assert len(dh) == 36 and all(r.real_pixels for r in dh)


def test_ccitt_k_positive_mixed_2d():
    """CCITTFaxDecode with /K > 0 (T.4 mixed 2-D) decodes to real
    pixels instead of the opaque fallback."""
    from two_tier_document_parser_spark.ccitt import encode_g3_2d

    rng = np.random.default_rng(31)
    w, h = 26, 11
    pix = (rng.integers(0, 3, (h, w)) == 0).astype(np.uint8)
    payload = encode_g3_2d(pix, k=2)
    extra = (
        b"/Width %d /Height %d /ColorSpace /DeviceGray"
        b" /BitsPerComponent 1 /Filter /CCITTFaxDecode"
        b" /DecodeParms << /K 2 /Columns %d /Rows %d >>" % (w, h, w, h)
    )
    rows = _pdf_media_inner(build_pdf([(extra, payload)]))
    assert len(rows) == 1
    r = rows[0]
    assert r["codec"] == "ccitt"
    assert (r["width"], r["height"]) == (w, h)
    assert np.array_equal(
        decode_png_gray(r["payload"]),
        np.where(pix == 1, 0, 255).astype(np.uint8),
    )
