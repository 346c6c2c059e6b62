"""Unified raw-bytes ingestion router.

One Arrow kernel turns a (doc_id, payload binary) table into
documents_raw rows, sniffing the container per document BY CONTENT:
%PDF- -> the from-scratch PDF-subset reader (pdf_io), TTDP1 magic ->
the columnar container decoder (binary_io), anything else -> the HTML
DOM lift (html_io). Undecodable payloads become quarantine-shaped
rows (doc_class='', no spans — error channel O19); the kernel never
raises. Content wins over filename, matching api._decode_payload.

Map-only: no shuffle, splits on parquet row groups. The kernel is
stateless, but `extract(sniff_decode_table(...))` still runs two Python
workers per task: this mapInArrow, then the fused cascade's.
"""

from __future__ import annotations

from .spec import TTDP1_MAGIC


def sniff_decode_doc(payload: bytes) -> dict | None:
    """One payload -> documents_raw row dict (sans doc_id) or None
    (undecodable). Each format has a per-payload decoder, no Arrow
    batch: pdf_io.parse_pdf, binary_io.decode_doc, html_io.parse_html.
    Only the decoder the sniff picks is imported."""
    p = payload or b""
    if p.startswith(b"%PDF-"):
        from .pdf_io import parse_pdf

        return parse_pdf(p)
    if p.startswith(TTDP1_MAGIC):
        from .binary_io import decode_doc

        return decode_doc(p)
    from .html_io import parse_html

    return parse_html(p)


def sniff_decode_batches(batches):
    from .schemas import decode_raw_batches

    return decode_raw_batches(batches, sniff_decode_doc)


def sniff_decode_table(bin_df):
    """(doc_id, payload binary) DataFrame -> documents_raw rows with
    per-document format sniffing."""
    from .schemas import spark_schema

    return bin_df.select("doc_id", "payload").mapInArrow(
        sniff_decode_batches, spark_schema("documents_raw")
    )
