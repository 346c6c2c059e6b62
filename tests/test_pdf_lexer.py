"""The PDF lexer: the object grammar of `_parse_obj`, `%` comments in
content streams (ISO 32000 §7.2.4), the nesting cap, and the
per-document memo of parsed object bodies."""

from __future__ import annotations

import time

import pytest

from two_tier_document_parser_spark.pdf_io import (
    _MAX_NESTING,
    Ref,
    _interp_page,
    _obj_value,
    _parse_obj,
    _scan_objects,
    parse_pdf,
)


def _pdf(content: bytes, info: bytes = b"<< /DocClass (memo) >>") -> bytes:
    """A one-page PDF with an uncompressed content stream; objects are
    found by the sequential scan, so no xref table is written."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        info,
    ]
    body = b"".join(
        b"%d 0 obj\n%s\nendobj\n" % (i + 1, o) for i, o in enumerate(objs)
    )
    return (b"%PDF-1.4\n" + body
            + b"trailer\n<< /Root 1 0 R /Info 5 0 R >>\n%%EOF\n")


def _texts(content: bytes) -> list[tuple[str, str]]:
    spans: list = []
    _interp_page(content, {}, spans)
    return [(k, t) for k, t, _ in spans]


# ---------------------------------------------------------------------------
# content-stream comments
# ---------------------------------------------------------------------------

def test_comment_in_content_stream_lifts_no_text():
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm % (ghost) Tj\n(real) Tj ET"
    assert _texts(content) == [("text", "real")]
    assert [s["text"] for s in parse_pdf(_pdf(content))["spans"]] == ["real"]


def test_comment_ends_at_carriage_return():
    assert _texts(b"BT 1 0 0 1 72 700 Tm %x\r(a) Tj ET") == [("text", "a")]


def test_percent_begun_inside_a_string_is_not_a_comment():
    # a token starting inside `(a(b)%c)` must not run on to the next
    # line's Tj: matching restarts at the string's end
    content = b"BT 1 0 0 1 72 700 Tm (a(b)%c) Tj\n(next) Tj ET"
    assert _texts(content) == [("text", "a(b)%c"), ("text", "next")]


def test_percent_inside_literal_string_is_text():
    assert _texts(b"BT 1 0 0 1 72 700 Tm (a%b) Tj ET") == [("text", "a%b")]


def test_comment_after_inline_dict_and_image():
    content = (b"BT 1 0 0 1 72 700 Tm /Span << /A 1 >>BDC %(x) Tj\n"
               b"(in) Tj EMC BI /W 1 /H 1 /BPC 8 /CS /G ID \x00 EI%(y) Tj\n"
               b"(z) Tj ET")
    assert _texts(content) == [("image", ""), ("text", "z")]


def test_number_runs_split_like_single_numbers():
    # a run of numbers ends at NUL and at anything not a number
    content = (b"BT 1 0 0 1 72 700 Tm (a) Tj 0 -660.5 Td (b) Tj"
               b" 0\x00-20 Td (c) Tj 1.5.5 1 2. 3 Td (d) Tj 12 Tf (e) Tj ET")
    assert _texts(content) == [("text", "a"), ("boilerplate", "b"),
                               ("boilerplate", "c"), ("boilerplate", "d"),
                               ("boilerplate", "e")]


# ---------------------------------------------------------------------------
# the nesting cap
# ---------------------------------------------------------------------------

def test_levels_below_the_cap_parse():
    v, end = _parse_obj(b"[" * 511 + b"]" * 511, 0)
    assert end == 1022
    for _ in range(510):
        (v,) = v
    assert v == []


def test_cap_raises_value_error():
    deep = b"[" * _MAX_NESTING + b"]" * _MAX_NESTING
    with pytest.raises(ValueError, match="nested too deep"):
        _parse_obj(deep, 0)
    with pytest.raises(ValueError, match="nested too deep"):
        _parse_obj(b"<< /K " * _MAX_NESTING, 0)


def test_100k_nested_arrays_raise_value_error():
    with pytest.raises(ValueError, match="nested too deep"):
        _parse_obj(b"[" * 100_000 + b"]" * 100_000, 0)  # no RecursionError


def test_100k_nested_arrays_in_object_body_and_bdc_dict():
    deep = b"[" * 100_000 + b"]" * 100_000
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (body) Tj ET"
    t0 = time.perf_counter()
    # the Info body fails to parse: the scan drops it, the page parses
    in_body = parse_pdf(_pdf(content, b"<< /DocClass (memo) /X " + deep
                             + b" >>"))
    # the BDC property dict fails to parse: the document quarantines
    in_bdc = parse_pdf(_pdf(b"BT /Span << /A " + deep + b" >> BDC (x) Tj"
                            b" EMC ET"))
    assert time.perf_counter() - t0 < 1.0
    assert in_body == {
        "doc_class": "pdf", "n_pages": 1,
        "spans": [{"kind": "text", "text": "body", "media_ref": "",
                   "offset": 0}],
    }
    assert in_bdc is None


# ---------------------------------------------------------------------------
# the object grammar
# ---------------------------------------------------------------------------

def test_comment_in_dict_is_skipped_whole():
    # a backtracking comment prefix would close the dict at the `>>`
    # inside the comment
    assert _parse_obj(b"<< /A /B%x >>\n/C 1 >>", 0) == ({"A": "B", "C": 1}, 21)


@pytest.mark.parametrize("src", [
    b"<< /A >> ", b"[1 2", b"<< /A 1 >", b"<4G>", b"<< [1] 2 >>",
    b"", b"   % only a comment", b"]", b">>", b"[ >> ]",
])
def test_malformed_objects_raise(src):
    with pytest.raises(Exception):  # every caller catches and quarantines
        _parse_obj(src, 0)


@pytest.mark.parametrize("src, value, end", [
    (b"nullx", None, 4),
    (b"1 0 Rx", 1, 1),
    (b"4.", 4, 1),
    (b"-.5", -0.5, 3),
    (b"%c\n true", True, 8),
    (b"false", False, 5),
    (b"<41 4>", "A@", 6),
    (b"<feff0041>", "A", 10),
    (b"(a\\(b\\)c)", "a(b)c", 9),
    (b"/Name#20x", "Name#20x", 9),
    (b"[1 /A [2] << /B (x) >>]", [1, "A", [2], {"B": "x"}], 23),
])
def test_object_grammar(src, value, end):
    v, e = _parse_obj(src, 0)
    assert (v, e) == (value, end)
    assert isinstance(v, type(value))  # 4 stays int, -0.5 float


def test_reference_needs_a_word_boundary():
    v, end = _parse_obj(b"1 0 R", 0)
    assert isinstance(v, Ref) and v.num == 1 and end == 5
    v, end = _parse_obj(b"<< /P 12 0 R/Q 3 0 R >>", 0)
    assert v["P"].num == 12 and v["Q"].num == 3


# ---------------------------------------------------------------------------
# the parsed-body memo
# ---------------------------------------------------------------------------

def test_bare_ref_body_before_endobj_reads_as_its_body():
    # on the whole file `1 0 Rendobj` is the number 1; the body alone
    # is a ref, which is what a resolve must see
    objs = _scan_objects(b"%PDF-1.4\n5 0 obj 1 0 Rendobj\n")
    v = _obj_value(objs, 5)
    assert isinstance(v, Ref) and v.num == 1


def test_replaced_body_is_parsed_again():
    objs = _scan_objects(_pdf(b"BT ET"))
    catalog = _obj_value(objs, 1)
    assert catalog["Type"] == "Catalog"
    assert _obj_value(objs, 1) is catalog  # parsed once
    objs[1] = b"<< /Type /Other >>"
    assert _obj_value(objs, 1) == {"Type": "Other"}
    assert _obj_value(objs, 99) is None
