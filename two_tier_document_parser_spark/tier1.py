"""Tier-1 "fast" extractor.

Engine counterpart of oracle/tier1.py — same semantics (reference
fast/service.py:11-97: whole-doc parse, poison-triggered per-page
fallback with 1-indexed skipped_pages and the verbatim placeholder,
jusText-style block classification) — split into a core and a thin
Arrow adapter:

- `extract_fast(kinds, texts)` is the core: one document's span kinds
  and texts as plain lists -> its documents_out row (schemas.DocOut).
  It is plain Python over ~30 spans: page split, poisoned pages, block
  segmentation (runs of one span class), classification and markdown.
- `tier1_batches` is the adapter `mapInArrow` runs
  (`schemas.core_batches`, shared with tier-2): it flattens each Arrow
  batch to lists once, calls the core per document and builds the
  output batch once (`schemas.out_batch`).
- The per-request facade (`api._run_kernel_one`) calls the same core
  on one document's lists, with no Arrow at all.

Scale notes (100 TB): map-only stage, no shuffle; incoming Arrow
batches are re-chunked to a span budget (`schemas.MAX_SPANS_PER_CHUNK`) so a
run of giant documents cannot blow the Python worker heap regardless
of spark.sql.execution.arrow.maxRecordsPerBatch; producer skew is
handled upstream by salting/repartition, and the span caps
(spec.T1_MAX_SPANS) bound the largest document one call extracts.
"""

from __future__ import annotations

from .markdown_ser import join_page, join_pages, render_block
from .schemas import DocOut, core_batches
from .spec import (
    STOP_UNION,
    T1_MAX_LINK_DENSITY,
    T1_MIN_BLOCK_CHARS,
    T1_MIN_STOP_DENSITY,
    skipped_page_placeholder,
)

# span-class codes; a kind outside the vocabulary is dropped
PARA, CHROME, EMIT_H, EMIT_L, DROP, PB = 0, 1, 2, 3, 4, 5
_KIND_TO_CLS = {
    "text": PARA,
    "link_text": PARA,
    "table_cell": PARA,
    "boilerplate": CHROME,
    "heading": EMIT_H,
    "list_item": EMIT_L,
    "image": DROP,
    "formula": DROP,
    "box": DROP,
    "table_row_end": DROP,
    "page_break": PB,
}

def _page_blocks(cls, kinds, texts, lo: int, hi: int, out: DocOut) -> None:
    """Classify and emit the blocks of one page (spans lo..hi). A block
    is a run of spans of one class; each heading/list item is a block
    of its own. A SHORT block inherits the class of the last non-short
    block on the page (BAD at the top)."""
    prev_good = False
    i = lo
    while i < hi:
        c = cls[i]
        if c == EMIT_H or c == EMIT_L:
            if texts[i]:
                out.emit("heading" if c == EMIT_H else "list_item", texts[i])
            prev_good = True
            i += 1
            continue
        j = i + 1
        while j < hi and cls[j] == c:
            j += 1
        pieces = [t for t in texts[i:j] if t] if c <= CHROME else None
        if pieces:
            joined = " ".join(pieces)
            chars = len(joined) - len(pieces) + 1
            link = sum(len(t) for k, t in zip(kinds[i:j], texts[i:j])
                       if k == "link_text")
            # link-density gate first (reference order in classify_block)
            if link / chars > T1_MAX_LINK_DENSITY:
                good = prev_good = False
            elif len(joined) < T1_MIN_BLOCK_CHARS:
                good = prev_good
            else:
                toks = joined.lower().split()
                stops = sum(map(STOP_UNION.__contains__, toks))
                # no tokens (only whitespace): stop density 0, so BAD
                good = prev_good = (
                    bool(toks) and stops / len(toks) >= T1_MIN_STOP_DENSITY
                )
            if good:
                out.emit("text", joined)
        i = j


def extract_fast(kinds: list[str], texts: list[str]) -> DocOut:
    """One document's span kinds and texts -> its fast-tier row. Pages
    are delimited by page_break spans; a page holding an empty
    table_cell (the poison marker) is skipped with the placeholder."""
    out = DocOut("fast")
    cls = [_KIND_TO_CLS.get(k, DROP) for k in kinds]
    breaks = [i for i, c in enumerate(cls) if c == PB]
    parts: list[str] = []
    lo = 0
    for p, hi in enumerate(breaks + [len(cls)]):
        if "table_cell" in kinds[lo:hi] and any(
            k == "table_cell" and t == ""
            for k, t in zip(kinds[lo:hi], texts[lo:hi])
        ):
            out.skipped.append(p + 1)
            parts.append(skipped_page_placeholder(p + 1))
        else:
            s0 = len(out.kinds)
            _page_blocks(cls, kinds, texts, lo, hi, out)
            parts.append(join_page([render_block(k, t, "") for k, t in zip(
                out.kinds[s0:], out.texts[s0:])]))
        lo = hi + 1
    out.pages = len(parts)
    out.markdown = join_pages(parts)
    return out


def tier1_batches(batches):
    return core_batches(batches, extract_fast, ("kind", "text"))
