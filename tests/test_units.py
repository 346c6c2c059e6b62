"""Operator-level unit tests (SURVEY §5.2.3): the reference's exact
semantics — placeholder text, empty-formula drop, table fallback
preference, artifact-id ordering, XY-cut — pinned one by one."""

from __future__ import annotations

from oracle.tier1 import tier1_extract
from oracle.tier2 import tier2_extract
from two_tier_document_parser_spark.layout import xycut
from two_tier_document_parser_spark.markdown_ser import table_markdown


def _doc(spans, doc_class="html", doc_id="t1"):
    return {
        "doc_id": doc_id,
        "doc_class": doc_class,
        "n_pages": 1 + sum(1 for s in spans if s[0] == "page_break"),
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)
        ],
    }


GOOD_TEXT = "the data of the engine is in the model and it is a table of the layout"


def test_skipped_page_placeholder_verbatim():
    # reference fast/service.py:63-67 - placeholder string, 1-indexed pages
    doc = _doc(
        [
            ("text", GOOD_TEXT, ""),
            ("page_break", "", ""),
            ("table_cell", "", ""),  # poison on page 2
            ("text", GOOD_TEXT, ""),
            ("page_break", "", ""),
            ("text", GOOD_TEXT, ""),
        ]
    )
    out = tier1_extract(doc)
    assert out["skipped_pages"] == [2]
    assert out["pages"] == 3
    assert (
        "\n\n---\n**[Page 2 skipped due to parsing error]**\n---\n\n"
        in out["markdown"]
    )
    # page-2 content is gone, pages 1 and 3 survived
    assert len(out["spans"]) == 2
    assert out["markdown"] == (
        GOOD_TEXT
        + "\n\n"
        + "\n\n---\n**[Page 2 skipped due to parsing error]**\n---\n\n"
        + "\n\n"
        + GOOD_TEXT
    )


def test_no_poison_no_fallback():
    out = tier1_extract(_doc([("text", GOOD_TEXT, "")]))
    assert out["skipped_pages"] == []
    assert out["spans"][0]["text"] == GOOD_TEXT


def test_boilerplate_heuristics():
    out = tier1_extract(
        _doc(
            [
                ("link_text", "home about products", ""),  # nav: link-dense
                ("heading", "a fine title", ""),
                ("text", GOOD_TEXT, ""),
                ("image", "", "asset_x"),  # block boundary (dropped by tier 1)
                ("text", "tiny one", ""),  # SHORT -> inherits GOOD above
                ("heading", "next", ""),
                ("boilerplate", "copyright rights reserved privacy terms sitemap", ""),
            ]
        )
    )
    kinds_texts = [(s["kind"], s["text"]) for s in out["spans"]]
    assert ("heading", "a fine title") in kinds_texts
    assert any(k == "text" and GOOD_TEXT in t for k, t in kinds_texts)
    # nav dropped (link density), footer dropped (stop density)
    assert not any("home about" in t for _, t in kinds_texts)
    assert not any("copyright" in t for _, t in kinds_texts)
    # SHORT caption inherited GOOD from the preceding paragraph
    assert ("text", "tiny one") in kinds_texts


def test_short_at_page_start_is_dropped():
    out = tier1_extract(_doc([("text", "tiny one", "")]))
    assert out["spans"] == []


def test_empty_formula_dropped():
    # reference accurate/service.py:210: `if formula_content:`
    doc = _doc(
        [
            ("box", "0,0,100,100,formula", ""),
            ("formula", "", ""),
            ("box", "0,200,100,300,formula", ""),
            ("formula", "e=mc^2", ""),
        ],
        doc_class="pdfish",
    )
    out = tier2_extract(doc)
    formulas = [s for s in out["spans"] if s["kind"] == "formula"]
    assert len(formulas) == 1
    assert formulas[0]["text"] == "e=mc^2"
    assert formulas[0]["media_ref"] == "page_0_formula_0"
    assert out["n_formulas"] == 1


def test_table_content_else_fallback():
    # reference accurate/service.py:190-198: content else html, skip if empty
    doc = _doc(
        [
            ("box", "0,0,100,100,table", ""),
            ("table_cell", "a", ""),
            ("table_cell", "b", ""),
            ("table_row_end", "", ""),
            ("table_cell", "c", ""),
            ("table_cell", "d", ""),
            ("table_row_end", "", ""),
            ("box", "0,200,100,300,table", ""),
            ("text", "raw table text fallback", ""),
            ("box", "0,400,100,500,table", ""),  # empty -> nothing
        ],
        doc_class="pdfish",
    )
    out = tier2_extract(doc)
    tables = [s for s in out["spans"] if s["kind"] == "table"]
    assert len(tables) == 2
    assert tables[0]["text"] == "| a | b |\n| --- | --- |\n| c | d |"
    assert tables[0]["media_ref"] == "page_0_table_0"
    assert tables[1]["text"] == "raw table text fallback"
    assert tables[1]["media_ref"] == "page_0_table_1"
    assert out["n_tables"] == 2


def test_artifact_ids_first_seen_order_across_pages():
    # reference accurate/service.py:180: page index in the id, counter global
    doc = _doc(
        [
            ("box", "0,0,100,100,figure", ""),
            ("image", "", "asset_1"),
            ("page_break", "", ""),
            ("box", "0,0,100,100,figure", ""),
            ("image", "", "asset_2"),
        ],
        doc_class="pdfish",
    )
    out = tier2_extract(doc)
    imgs = [s for s in out["spans"] if s["kind"] == "image"]
    assert [s["media_ref"] for s in imgs] == ["page_0_img_0", "page_1_img_1"]
    assert [s["text"] for s in imgs] == ["asset_1", "asset_2"]


def test_xycut_two_column_with_header():
    boxes = [
        (520, 160, 940, 400),  # right col top
        (60, 40, 940, 140),    # full-width header
        (60, 160, 480, 400),   # left col top
        (60, 420, 480, 800),   # left col bottom
        (520, 420, 940, 800),  # right col bottom
    ]
    order = xycut(boxes)
    # header first (no full-height x-gap while it spans both columns),
    # then left column top->bottom, then right column: column-major
    assert order == [1, 2, 3, 0, 4]


def test_xycut_stream_order_ignored():
    boxes = [(60, 400, 940, 500), (60, 40, 940, 140), (60, 200, 940, 300)]
    assert xycut(boxes) == [1, 2, 0]


def test_xycut_fast_equals_spec():
    """The optimized XY-cut (pre-sorted axes carried through the
    recursion + memoization) must order exactly like the simple
    specification built on _split_by_gaps."""
    import random

    from two_tier_document_parser_spark.layout import _split_by_gaps

    def spec(boxes):
        def rec(order):
            if len(order) <= 1:
                return order
            groups = _split_by_gaps(order, boxes, 0)
            if len(groups) > 1:
                return [i for g in groups for i in rec(g)]
            groups = _split_by_gaps(order, boxes, 1)
            if len(groups) > 1:
                rest = [i for g in groups[1:] for i in g]
                return rec(groups[0]) + rec(rest)
            return sorted(order, key=lambda i: (boxes[i][1], boxes[i][0], i))

        return rec(list(range(len(boxes))))

    rng = random.Random(4242)
    for _ in range(3000):
        boxes = []
        for _ in range(rng.randint(0, 10)):
            x0, y0 = rng.randint(0, 80), rng.randint(0, 80)
            boxes.append(
                (x0, y0, x0 + rng.randint(1, 40), y0 + rng.randint(1, 40))
            )
        assert xycut(boxes) == spec(boxes), boxes


def test_table_markdown_ragged_rows():
    assert table_markdown([["a", "b"], ["c"]]) == "| a | b |\n| --- | --- |\n| c |"
    assert table_markdown([]) == ""


def test_bbox_geometry_on_output_spans():
    """Every tier-2 span carries the bbox of its emitting layout
    region ([x0,y0,x1,y1] ints); content outside any box and all
    tier-1 output carry [] (reference: bbox on ImageData/TableData/
    FormulaData, accurate/models.py:8-29, accurate/service.py:177)."""
    doc = _doc(
        [
            ("text", "leading text before any region box here we go", ""),
            ("box", "0,0,100,100,figure", ""),
            ("image", "", "asset_1"),
            ("box", "0,200,300,400,table", ""),
            ("table_cell", "a", ""),
            ("table_row_end", "", ""),
            ("box", "0,500,300,600,formula", ""),
            ("formula", "e=mc^2", ""),
        ],
        doc_class="pdfish",
    )
    out = tier2_extract(doc)
    by_kind = {s["kind"]: s for s in out["spans"]}
    assert by_kind["image"]["bbox"] == [0, 0, 100, 100]
    assert by_kind["table"]["bbox"] == [0, 200, 300, 400]
    assert by_kind["formula"]["bbox"] == [0, 500, 300, 600]
    assert by_kind["text"]["bbox"] == []  # implicit leading region
    # tier-1 output is text-only with no geometry
    t1 = tier1_extract(_doc([("text", GOOD_TEXT, "")]))
    assert all(s["bbox"] == [] for s in t1["spans"])


def test_bbox_surfaces_in_api_artifacts():
    """The facade's ImageData/TableData/FormulaData dicts expose bbox
    (reference accurate/models.py:8-29) instead of None."""
    from two_tier_document_parser_spark.api import parse_document

    doc = _doc(
        [
            ("box", "10,20,110,220,figure", ""),
            ("image", "", "asset_1"),
            ("box", "10,300,500,400,table", ""),
            ("table_cell", "a", ""),
            ("table_row_end", "", ""),
        ],
        doc_class="pdfish",
    )
    resp = parse_document(doc, tier="accurate")
    assert resp["images"][0]["bbox"] == [10, 20, 110, 220]
    assert resp["tables"][0]["bbox"] == [10, 300, 500, 400]


def test_size_cap_routes_to_quarantine():
    """Reference 413 semantics (fast/app.py:71-73, accurate/app.py:
    125-127): oversize docs quarantine with a distinct reason, never
    parse, never raise."""
    from oracle import extract_doc
    from oracle.routing import route_doc
    from two_tier_document_parser_spark.api import parse_document
    from two_tier_document_parser_spark.spec import T1_MAX_SPANS

    big = _doc([("text", "word " * 3, "")] * (T1_MAX_SPANS + 1))
    assert route_doc(big) == "error"
    assert extract_doc(big)["tier"] == "error"
    resp = parse_document(big)  # facade mirrors the engine's routing
    assert "error" in resp and "markdown" not in resp
    # under the cap the same doc parses
    ok = _doc([("text", GOOD_TEXT, "")])
    assert route_doc(ok) == "fast"


def test_png_codec_and_artifact_payloads():
    """Real PNG artifact payloads (reference accurate/service.py:135-
    139 returns base64 PNG crops): the from-scratch encoder emits
    valid PNGs (signature, IHDR dims, zlib-decodable scanlines) and
    the facade surfaces them base64'd, deterministically."""
    import base64
    import struct
    import zlib

    import numpy as np

    from two_tier_document_parser_spark.api import parse_document
    from two_tier_document_parser_spark.png import (
        artifact_png,
        encode_png_gray,
        png_dims,
        render_crop,
    )

    px = np.frombuffer(b"".join(render_crop("asset_1", 5, 3)), np.uint8)
    px = px.reshape(3, 5)
    data = encode_png_gray(px)
    assert png_dims(data) == (5, 3)
    # decode the IDAT back: filter-0 rows must reproduce the pixels
    idat_len = struct.unpack(">I", data[33:37])[0]
    raw = zlib.decompress(data[41 : 41 + idat_len])
    rows = np.frombuffer(raw, np.uint8).reshape(3, 6)
    assert (rows[:, 0] == 0).all() and (rows[:, 1:] == px).all()
    # deterministic: same seed+bbox -> same bytes
    assert artifact_png("a", [0, 0, 10, 8]) == artifact_png("a", [0, 0, 10, 8])
    assert artifact_png("a", [0, 0, 10, 8]) != artifact_png("b", [0, 0, 10, 8])
    assert png_dims(artifact_png("a", [0, 0, 10, 8])) == (10, 8)
    assert png_dims(artifact_png("a", [0, 0, 500, 900])) == (64, 64)  # cap

    doc = _doc(
        [("box", "10,20,42,52,figure", ""), ("image", "", "asset_9")],
        doc_class="pdfish",
    )
    resp = parse_document(doc, tier="accurate")
    img = resp["images"][0]
    png = base64.b64decode(img["image_base64"])
    assert png_dims(png) == (32, 32)
    assert img["bbox"] == [10, 20, 42, 52]


def test_reading_order_dense_per_doc():
    doc = _doc(
        [
            ("box", "0,0,940,100,text", ""),
            ("heading", "h", ""),
            ("text", "body text one", ""),
            ("box", "0,200,940,300,figure", ""),
            ("image", "", "a"),
        ],
        doc_class="pdfish",
    )
    out = tier2_extract(doc)
    assert [s["order"] for s in out["spans"]] == list(range(len(out["spans"])))


def test_parse_bytes_request_contract():
    """api.parse_bytes = the reference's bytes-in request surface
    (fast/app.py:49-83): sniffed decode for all three byte formats,
    extension 400 semantics, per-tier 413 size caps with the
    reference's exact wording, and responses identical to feeding the
    decoded documents_raw row through parse_document."""
    from two_tier_document_parser_spark.api import parse_bytes, parse_document
    from two_tier_document_parser_spark.binary_io import encode_doc
    from two_tier_document_parser_spark.html_io import render_html
    from two_tier_document_parser_spark.pdf_io import render_pdf
    from two_tier_document_parser_spark.synth import make_doc

    doc = make_doc(11)
    for payload, fname in (
        (render_pdf(doc), "a.pdf"),
        (render_html(doc), "a.html"),
        (encode_doc(doc), "a.ttdp"),
    ):
        got = parse_bytes(payload, fname)
        want = parse_document({**doc, "doc_id": fname})
        # processing time is wall-clock; everything else must match
        got.get("metadata", {}).pop("processing_time_ms", None)
        want.get("metadata", {}).pop("processing_time_ms", None)
        assert got == want, fname

    assert parse_bytes(b"x", "a.exe")["error"].startswith("Unsupported")
    big = bytes(100 * 1024 * 1024 + 1)
    assert parse_bytes(big, "a.pdf")["error"] == "File too large (max 100MB)"
    assert (
        parse_bytes(big, "a.pdf", tier="accurate")["error"]
        != "File too large (max 100MB)"
    )  # 500MB cap on the accurate tier admits it (then fails decode)
    # NUL-bearing junk: the charset sniffer w1252-decodes NUL-free
    # byte soup best-effort, so only truly-binary bytes stay invalid
    assert parse_bytes(b"\xff\x80\x00 junk", "a.pdf")["error"] == "invalid document"


def test_cli_client_and_health(tmp_path):
    """jobs/parse_file.py mirrors the reference demo client
    (demo_client.py:23-96): parse one file, save <file>.<mode>.json;
    api.health() mirrors the health endpoints' introspection shape."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    from parse_file import main

    from two_tier_document_parser_spark.api import health
    from two_tier_document_parser_spark.pdf_io import render_pdf
    from two_tier_document_parser_spark.synth import make_doc

    f = tmp_path / "doc.pdf"
    f.write_bytes(render_pdf(make_doc(7)))
    assert main([str(f), "--mode", "accurate"]) == 0
    saved = json.loads((tmp_path / "doc.accurate.json").read_text())
    assert saved["metadata"]["pages"] >= 1 and "markdown" in saved

    bad = tmp_path / "bad.pdf"
    bad.write_bytes(b"\xff\x80\x00 junk")  # NUL: undecodable post-sniffer
    assert main([str(bad)]) == 1
    assert "error" in json.loads((tmp_path / "bad.auto.json").read_text())

    h = health()
    assert h["status"] == "healthy" and h["workers"] >= 1
    assert "no_gil" in h and "fast" in h["tiers"]
