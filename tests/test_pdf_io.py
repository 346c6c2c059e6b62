"""PDF-subset ingestion (pdf_io): from-scratch %PDF bytes -> span
lift, plus the spec-shaped writer inverse.

Covers: exact render->parse round trip over the synthetic corpus
(multi-page + giant docs, marked-content cells/formulas/links/boxes,
image XObjects, footer boilerplate, headings by font size), a
hand-written classic PDF the writer never produced (uncompressed
stream, literal strings with escapes, Td positioning), quarantine on
non-PDF bytes, and the Spark table operators + full cascade."""

from __future__ import annotations

from pathlib import Path

import pytest

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not Path(SF).exists(), reason="driver testdata not present"
)


def test_roundtrip_synth_corpus_exact():
    from two_tier_document_parser_spark.pdf_io import parse_pdf, render_pdf
    from two_tier_document_parser_spark.synth import synth_docs

    for doc in synth_docs(0, 300):
        got = parse_pdf(render_pdf(doc))
        assert got == {
            "doc_class": doc["doc_class"],
            "n_pages": doc["n_pages"],
            "spans": doc["spans"],
        }, doc["doc_id"]


def test_written_files_are_wellformed_pdf():
    from two_tier_document_parser_spark.pdf_io import render_pdf
    from two_tier_document_parser_spark.synth import synth_docs

    pdf = render_pdf(synth_docs(3, 1)[0])
    assert pdf.startswith(b"%PDF-1.4\n")
    assert pdf.rstrip().endswith(b"%%EOF")
    assert b"xref" in pdf and b"trailer" in pdf
    # xref startxref offset actually points at the xref keyword
    tail = pdf[pdf.rindex(b"startxref") :]
    off = int(tail.split()[1])
    assert pdf[off : off + 4] == b"xref"


def test_foreign_classic_pdf():
    """A minimal hand-authored PDF in the classic idiom — uncompressed
    content, literal strings with escapes, Td-relative-style
    positioning, no marked content — parses via the layout-heuristic
    layer alone."""
    from two_tier_document_parser_spark.pdf_io import parse_pdf

    content = (
        b"BT /F1 24 Tf 72 700 Td (A Title) Tj ET\n"
        b"BT /F1 12 Tf 72 660 Td (Body with \\(escaped\\) parens) Tj ET\n"
        b"BT /F1 12 Tf 72 640 Td [(Part one ) (and two)] TJ ET\n"
        b"BT /F1 12 Tf 72 30 Td (c 2024 footer chrome) Tj ET\n"
    )
    objs = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")                # 1
    objs.append(b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>")      # 2
    objs.append(
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
    )                                                                 # 3
    objs.append(
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content)
    )                                                                 # 4
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    body = b"%PDF-1.4\n"
    for i, o in enumerate(objs, start=1):
        body += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    body += b"trailer\n<< /Size 6 /Root 1 0 R >>\n%%EOF\n"

    doc = parse_pdf(body)
    got = [(s["kind"], s["text"]) for s in doc["spans"]]
    assert got == [
        ("heading", "A Title"),                  # 24pt >= threshold
        ("text", "Body with (escaped) parens"),  # literal escapes
        ("text", "Part one and two"),            # TJ array join
        ("boilerplate", "c 2024 footer chrome"), # footer band y=30
    ]
    assert doc["n_pages"] == 1 and doc["doc_class"] == "pdf"


def test_quarantine_on_bad_bytes():
    from two_tier_document_parser_spark.pdf_io import parse_pdf

    assert parse_pdf(b"not a pdf at all") is None
    assert parse_pdf(b"%PDF-1.4\ngarbage without trailer") is None
    assert parse_pdf(b"") is None


def test_spark_roundtrip_and_cascade(spark):
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.pdf_io import (
        parse_table,
        render_table,
    )
    from two_tier_document_parser_spark.pipeline import (
        extract,
        ship_package,
    )
    from two_tier_document_parser_spark.synth import synth_spark

    ship_package(spark)
    raw = synth_spark(spark, 150, partitions=4)
    back = parse_table(render_table(raw))
    a = {r["doc_id"]: r.asDict(recursive=True) for r in raw.collect()}
    b = {r["doc_id"]: r.asDict(recursive=True) for r in back.collect()}
    assert a == b
    out = extract(spark, back)
    tiers = {
        r["tier"]: r["n"]
        for r in out.groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert tiers.get("fast", 0) > 0 and tiers.get("deep", 0) > 0
    assert sum(tiers.values()) == 150
    # quarantine rows flow in-band
    bad = spark.createDataFrame(
        [("b0", bytearray(b"\x00\x01 not pdf"))],
        "doc_id string, payload binary",
    )
    q = parse_table(bad).collect()[0]
    assert q["doc_class"] == "" and q["spans"] == []


def test_job_mixed_bytes_decode(spark):
    """jobs/run_extract.py --input-format bytes: one Arrow kernel
    sniffs %PDF- / TTDP1 / HTML per document and quarantines junk."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    from run_extract import _decode_bytes_table

    from two_tier_document_parser_spark.binary_io import encode_doc
    from two_tier_document_parser_spark.html_io import render_html
    from two_tier_document_parser_spark.pdf_io import render_pdf
    from two_tier_document_parser_spark.pipeline import ship_package
    from two_tier_document_parser_spark.synth import synth_docs

    ship_package(spark)
    docs = synth_docs(0, 30)
    rows = [
        (d["doc_id"], bytearray((render_pdf, render_html, encode_doc)[i % 3](d)))
        for i, d in enumerate(docs)
        # NUL byte: quarantines even post-charset-sniffer (NUL-free
        # byte soup now windows-1252-decodes best-effort as HTML)
    ] + [("junk", bytearray(b"\xff\x80\x00?"))]
    bin_df = spark.createDataFrame(rows, "doc_id string, payload binary")
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in _decode_bytes_table(bin_df, "bytes").collect()
    }
    for d in docs:
        assert got[d["doc_id"]]["spans"] == d["spans"], d["doc_id"]
        assert got[d["doc_id"]]["doc_class"] == d["doc_class"]
    assert got["junk"]["doc_class"] == "" and got["junk"]["spans"] == []


def test_foreign_pdf_relative_td_nested_parens_endobj_in_stream():
    """Review-finding regressions: Td is RELATIVE (multi-line classic
    PDFs must not fall into the footer band), literal strings carry
    balanced nested parens, and 'endobj' inside stream data cannot
    truncate the object (stream-aware /Length scan)."""
    from two_tier_document_parser_spark.pdf_io import parse_pdf

    content = (
        b"BT /F1 12 Tf 72 700 Td (line one) Tj"
        b" 0 -14 Td (line two) Tj 0 -14 Td (line three) Tj ET\n"
        b"BT /F1 12 Tf 72 600 Td (a (nested) c) Tj ET\n"
        b"BT /F1 12 Tf 72 580 Td (the endobj keyword explained) Tj ET\n"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    body = b"%PDF-1.4\n"
    for i, o in enumerate(objs, start=1):
        body += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    body += b"trailer\n<< /Size 6 /Root 1 0 R >>\n%%EOF\n"
    got = [(s["kind"], s["text"]) for s in parse_pdf(body)["spans"]]
    assert got == [
        ("text", "line one"),
        ("text", "line two"),
        ("text", "line three"),
        ("text", "a (nested) c"),
        ("text", "the endobj keyword explained"),
    ]


def test_classic_pdf_idioms_contents_array_indirect_length():
    """More classic-file idioms: /Contents as an ARRAY of streams
    (concatenated in order), /Length as an INDIRECT reference
    (endstream-keyword fallback), octal string escapes, and
    whitespace-separated hex strings."""
    from two_tier_document_parser_spark.pdf_io import parse_pdf

    c1 = b"BT /F1 12 Tf 72 700 Td (part one \\101\\102) Tj ET"  # octal AB
    c2 = b"BT /F1 12 Tf 72 680 Td <4 86 56 C6C 6F> Tj ET"       # 'Hello'
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Contents [ 4 0 R 6 0 R ]"
            b" /Resources << /Font << /F1 5 0 R >> >> >>"),
        4: b"<< /Length 7 0 R >>\nstream\n" + c1 + b"\nendstream",
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        6: b"<< /Length %d >>\nstream\n" % len(c2) + c2 + b"\nendstream",
        7: b"%d" % len(c1),
    }
    body = b"%PDF-1.4\n"
    for i, o in objs.items():
        body += b"%d 0 obj\n%s\nendobj\n" % (i, o)
    body += b"trailer\n<< /Size 8 /Root 1 0 R >>\n%%EOF\n"
    got = [(s["kind"], s["text"]) for s in parse_pdf(body)["spans"]]
    assert got == [("text", "part one AB"), ("text", "Hello")]
