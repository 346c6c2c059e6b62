"""Oracle tier-1 "fast" extractor (scalar, per-document).

Semantics mirror the reference fast service (fast/service.py:11-97):

- whole-document parse first; if any page carries the poison marker
  (our deterministic analogue of the pymupdf4llm table-detection
  AttributeError, fast/service.py:45-47), fall back to page-by-page
  parsing, skipping poisoned pages with the exact placeholder string
  and 1-indexed `skipped_pages` (fast/service.py:63-67,88-91);
- text-only output (fast tier emits no images/tables/formulas,
  README.md:39-48): table cells are linearized into running text,
  images/formulas/boxes dropped;
- main-content extraction via jusText/Readability-style block
  classification: link density, block length, stop-word density
  (thresholds in spec.py), with SHORT blocks inheriting the previous
  non-short block's class (Pomikálek 2011 context rule, simplified to
  the left neighbour for determinism).
"""

from __future__ import annotations

from two_tier_document_parser_spark.markdown_ser import (
    join_page,
    join_pages,
    render_block,
)
from two_tier_document_parser_spark.spec import (
    STOP_UNION,
    T1_EMIT_KINDS,
    T1_MAX_LINK_DENSITY,
    T1_MIN_BLOCK_CHARS,
    T1_MIN_STOP_DENSITY,
    T1_PARA_KINDS,
    is_poison,
    skipped_page_placeholder,
)

GOOD, BAD, SHORT = "good", "bad", "short"


def split_pages(spans: list[dict]) -> list[list[dict]]:
    """page_break spans delimit pages and are not content."""
    pages: list[list[dict]] = [[]]
    for s in spans:
        if s["kind"] == "page_break":
            pages.append([])
        else:
            pages[-1].append(s)
    return pages


def classify_block(pieces: list[tuple[str, bool]]) -> str:
    total = sum(len(t) for t, _ in pieces)
    if total == 0:
        return BAD
    link = sum(len(t) for t, is_link in pieces if is_link)
    if link / total > T1_MAX_LINK_DENSITY:
        return BAD
    joined = " ".join(t for t, _ in pieces)
    if len(joined) < T1_MIN_BLOCK_CHARS:
        return SHORT
    tokens = joined.lower().split()
    stops = sum(1 for t in tokens if t in STOP_UNION)
    # no tokens (only whitespace): stop density 0, so BAD
    if not tokens or stops / len(tokens) < T1_MIN_STOP_DENSITY:
        return BAD
    return GOOD


def parse_page(page: list[dict]) -> list[tuple[str, str]]:
    """One page -> ordered kept blocks [(kind, text)]. Two passes:
    build candidate blocks, then resolve SHORT by left-neighbour."""
    # pass 1: candidate blocks
    blocks: list[tuple[str, object]] = []  # ("para"|"chrome", pieces) or (kind, text)
    pieces: list[tuple[str, bool]] = []
    mode: str | None = None  # "para" | "chrome"

    def flush() -> None:
        nonlocal pieces, mode
        if pieces:
            blocks.append((mode or "para", pieces))
        pieces = []
        mode = None

    for s in page:
        kind, text = s["kind"], s["text"]
        if kind in T1_PARA_KINDS:
            if mode == "chrome":
                flush()
            mode = "para"
            if text:
                pieces.append((text, kind == "link_text"))
        elif kind == "boilerplate":
            if mode == "para":
                flush()
            mode = "chrome"
            if text:
                pieces.append((text, False))
        elif kind in T1_EMIT_KINDS:
            flush()
            blocks.append((kind, text))
        else:  # image/formula/box/table_row_end: block boundary, dropped
            flush()
    flush()

    # pass 2: classify + resolve SHORT
    out: list[tuple[str, str]] = []
    prev = BAD
    for kind, payload in blocks:
        if kind in T1_EMIT_KINDS:
            if payload:  # empty headings/list items dropped
                out.append((kind, payload))
            prev = GOOD
            continue
        cls = classify_block(payload)
        if cls == SHORT:
            cls = prev
        else:
            prev = cls
        if cls == GOOD:
            out.append(("text", " ".join(t for t, _ in payload)))
    return out


def tier1_extract(doc: dict) -> dict:
    pages = split_pages(doc["spans"])
    poisoned = [
        any(is_poison(s["kind"], s["text"]) for s in page) for page in pages
    ]
    fallback = any(poisoned)

    out_spans: list[tuple[str, str, str, int]] = []
    page_parts: list[str] = []
    skipped: list[int] = []
    for p, page in enumerate(pages):
        if fallback and poisoned[p]:
            skipped.append(p + 1)
            page_parts.append(skipped_page_placeholder(p + 1))
            continue
        kept = parse_page(page)
        for kind, text in kept:
            out_spans.append((kind, text, "", len(out_spans)))
        page_parts.append(join_page([render_block(k, t, "") for k, t in kept]))

    return {
        "doc_id": doc["doc_id"],
        "tier": "fast",
        "pages": len(pages),
        "spans": [
            # bbox []: the fast tier is a text-only linearization with
            # no layout geometry (reference fast tier, README.md:39-48)
            {"kind": k, "text": t, "media_ref": m, "order": o, "bbox": []}
            for k, t, m, o in out_spans
        ],
        "markdown": join_pages(page_parts),
        "n_images": 0,
        "n_tables": 0,
        "n_formulas": 0,
        "skipped_pages": skipped,
        "error": "",
    }
