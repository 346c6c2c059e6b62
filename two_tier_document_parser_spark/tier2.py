"""Vectorized tier-2 "deep" extractor.

Engine counterpart of oracle/tier2.py — same semantics (reference
accurate/service.py:119-238: page-ordered processing, XY-cut reading
order over layout boxes, per-document first-seen artifact counters,
content-else-fallback tables, empty-formula drop) as batch dataflow:
`mapInArrow` record batches flattened zero-copy, kinds dictionary-
encoded once per batch, then per-page region logic over numpy index
slices (regions per page are ~4-8, so the page loop is tiny compared
to the span-level columnar work). Shares the pure-integer xycut and
markdown renderers with the oracle (exact by construction, SURVEY
§7.7.4).

Map-only stage: no shuffle; batch size bounded upstream. Giant docs
are pre-split by page before this stage (presplit.py) so a single doc
cannot serialize one task at 100 TB scale.
"""

from __future__ import annotations

import time
import traceback
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .layout import xycut
from .markdown_ser import join_page, join_pages, render_block, table_markdown
from .schemas import OUT_SCHEMA
from .tier1 import _flatten_spans, rebatch_by_spans

_VOCAB = [
    "text",
    "heading",
    "list_item",
    "table_cell",
    "table_row_end",
    "image",
    "formula",
    "link_text",
    "boilerplate",
    "page_break",
    "box",
]
TEXTY = frozenset(
    (_VOCAB.index("text"), _VOCAB.index("link_text"), _VOCAB.index("boilerplate"),
     _VOCAB.index("table_cell"))
)
K_TEXT, K_HEAD, K_LIST, K_CELL, K_ROWEND, K_IMG, K_FORM, K_LINK, K_BOIL, K_PB, K_BOX = (
    range(11)
)


class _DocEmitter:
    __slots__ = ("kinds", "texts", "refs", "bboxes", "bbox",
                 "n_img", "n_tab", "n_form")

    def __init__(self) -> None:
        self.kinds: list[str] = []
        self.texts: list[str] = []
        self.refs: list[str] = []
        # per-span [x0,y0,x1,y1] of the emitting region, [] outside
        # boxes (reference bbox parity, accurate/models.py:8-29)
        self.bboxes: list[list[int]] = []
        self.bbox: list[int] = []
        self.n_img = 0
        self.n_tab = 0
        self.n_form = 0

    def emit(self, kind: str, text: str, ref: str = "") -> None:
        self.kinds.append(kind)
        self.texts.append(text)
        self.refs.append(ref)
        self.bboxes.append(self.bbox)

    def image(self, page: int, asset: str) -> None:
        self.emit("image", asset, f"page_{page}_img_{self.n_img}")
        self.n_img += 1

    def formula(self, page: int, latex: str) -> None:
        if latex:
            self.emit("formula", latex, f"page_{page}_formula_{self.n_form}")
            self.n_form += 1

    def table(self, page: int, md: str) -> None:
        if md:
            self.emit("table", md, f"page_{page}_table_{self.n_tab}")
            self.n_tab += 1


def _text_region(
    kc, tx, rf, lo: int, hi: int, page: int, em: _DocEmitter
) -> None:
    # NOTE: a numpy fast path for no-artifact regions (mask + single
    # join) was tried and MEASURED 2x SLOWER than this loop — regions
    # average ~10 spans and per-region numpy allocation overhead
    # exceeds the loop cost at that size. Keep the state machine.
    pieces: list[str] = []
    for i in range(lo, hi):
        k = kc[i]
        if k in (K_TEXT, K_LINK, K_BOIL, K_CELL):
            if tx[i]:
                pieces.append(tx[i])
        elif k == K_HEAD:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            if tx[i]:
                em.emit("heading", tx[i])
        elif k == K_LIST:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            if tx[i]:
                em.emit("list_item", tx[i])
        elif k == K_IMG:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            em.image(page, rf[i])
        elif k == K_FORM:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            em.formula(page, tx[i])
    if pieces:
        em.emit("text", " ".join(pieces))


def _table_region(kc, tx, rf, lo: int, hi: int, page: int, em: _DocEmitter) -> None:
    rows: list[list[str]] = []
    cur: list[str] = []
    fallback: list[str] = []
    extras: list[int] = []
    for i in range(lo, hi):
        k = kc[i]
        if k == K_CELL:
            cur.append(tx[i])
        elif k == K_ROWEND:
            if cur:
                rows.append(cur)
            cur = []
        elif k in (K_IMG, K_FORM):
            extras.append(i)
        elif tx[i]:
            fallback.append(tx[i])
    if cur:
        rows.append(cur)
    if rows:
        em.table(page, table_markdown(rows))
    elif fallback:
        em.table(page, " ".join(fallback))
    for i in extras:
        if kc[i] == K_IMG:
            em.image(page, rf[i])
        else:
            em.formula(page, tx[i])


def _process_page(
    kc, tx, rf, lo: int, hi: int, page: int, em: _DocEmitter,
    box_all=None,
) -> None:
    # box positions from the batch-wide precomputed index when
    # available (searchsorted slice), else a local scan
    if box_all is not None:
        s = np.searchsorted(box_all, lo)
        e = np.searchsorted(box_all, hi)
        box_pos = box_all[s:e].tolist()
    else:
        box_pos = [i for i in range(lo, hi) if kc[i] == K_BOX]
    start = len(em.kinds)
    em.bbox = []
    if not box_pos:
        _text_region(kc, tx, rf, lo, hi, page, em)
    else:
        if box_pos[0] > lo:  # implicit leading region (no geometry)
            _text_region(kc, tx, rf, lo, box_pos[0], page, em)
        bboxes = []
        region_kind = []
        bounds = []
        for j, b in enumerate(box_pos):
            x0, y0, x1, y1, rk = tx[b].split(",")
            bboxes.append((int(x0), int(y0), int(x1), int(y1)))
            region_kind.append(rk)
            end = box_pos[j + 1] if j + 1 < len(box_pos) else hi
            bounds.append((b + 1, end))
        for i in xycut(bboxes):
            blo, bhi = bounds[i]
            em.bbox = list(bboxes[i])
            if region_kind[i] == "table":
                _table_region(kc, tx, rf, blo, bhi, page, em)
            else:
                _text_region(kc, tx, rf, blo, bhi, page, em)
    return start


def tier2_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in rebatch_by_spans(batches):
        t0 = time.time()
        n_docs = batch.num_rows
        if n_docs == 0:
            continue
        doc_ids = batch.column("doc_id").to_pylist()
        counts, kind_a, text_a, media_a = _flatten_spans(batch)
        kc = pc.index_in(kind_a, value_set=pa.array(_VOCAB)).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        tx = text_a.to_numpy(zero_copy_only=False)
        rf = media_a.to_numpy(zero_copy_only=False)
        ends = np.cumsum(counts)
        starts = ends - counts
        # batch-wide positional indexes (page breaks, boxes): per-page
        # lookups become searchsorted slices instead of Python scans
        pb_all = np.flatnonzero(kc == K_PB)
        box_all = np.flatnonzero(kc == K_BOX)

        out_kinds: list[str] = []
        out_texts: list[str] = []
        out_refs: list[str] = []
        out_bboxes: list[list[int]] = []
        span_counts = np.zeros(n_docs, np.int64)
        pages_out = np.zeros(n_docs, np.int32)
        n_img = np.zeros(n_docs, np.int32)
        n_tab = np.zeros(n_docs, np.int32)
        n_form = np.zeros(n_docs, np.int32)
        markdowns: list[str] = []
        errors: list[str] = []

        for d in range(n_docs):
            lo, hi = int(starts[d]), int(ends[d])
            em = _DocEmitter()
            page_parts: list[str] = []
            err = ""
            try:
                # page boundaries: positions of page_break rows
                ps = np.searchsorted(pb_all, lo)
                pe = np.searchsorted(pb_all, hi)
                pbs = pb_all[ps:pe].tolist()
                page_no = 0
                cursor = lo
                for e in pbs + [hi]:
                    s0 = len(em.kinds)
                    _process_page(
                        kc, tx, rf, cursor, e, page_no, em, box_all
                    )
                    page_parts.append(
                        join_page(
                            [
                                render_block(k, t, m)
                                for k, t, m in zip(
                                    em.kinds[s0:], em.texts[s0:], em.refs[s0:]
                                )
                            ]
                        )
                    )
                    cursor = e + 1
                    page_no += 1
                pages_out[d] = page_no
            except Exception:
                # poison-safe error channel (reference
                # accurate/service.py:240-246): never crash the job
                em = _DocEmitter()
                page_parts = []
                pages_out[d] = 0
                err = traceback.format_exc(limit=1)
            out_kinds.extend(em.kinds)
            out_texts.extend(em.texts)
            out_refs.extend(em.refs)
            out_bboxes.extend(em.bboxes)
            span_counts[d] = len(em.kinds)
            n_img[d] = em.n_img
            n_tab[d] = em.n_tab
            n_form[d] = em.n_form
            markdowns.append(join_pages(page_parts))
            errors.append(err)

        wall_ms = int((time.time() - t0) * 1000)
        order = np.arange(int(span_counts.sum()), dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(span_counts)])[:-1], span_counts
        )
        span_struct = pa.StructArray.from_arrays(
            [
                pa.array(out_kinds, type=pa.string()),
                pa.array(out_texts, type=pa.string()),
                pa.array(out_refs, type=pa.string()),
                pa.array(order.astype(np.int32), type=pa.int32()),
                pa.array(out_bboxes, type=pa.list_(pa.int32())),
            ],
            names=["kind", "text", "media_ref", "order", "bbox"],
        )
        offsets = pa.array(
            np.concatenate([[0], np.cumsum(span_counts)]).astype(np.int32),
            type=pa.int32(),
        )
        tiers = ["deep" if not e else "error" for e in errors]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, type=pa.string()),
                pa.array(tiers, type=pa.string()),
                pa.array(pages_out, type=pa.int32()),
                pa.ListArray.from_arrays(offsets, span_struct),
                pa.array(markdowns, type=pa.string()),
                pa.array(n_img, type=pa.int32()),
                pa.array(n_tab, type=pa.int32()),
                pa.array(n_form, type=pa.int32()),
                pa.array([[]] * n_docs, type=pa.list_(pa.int32())),
                pa.array(np.full(n_docs, wall_ms, np.int64), type=pa.int64()),
                pa.array(errors, type=pa.string()),
            ],
            names=[f.name for f in OUT_SCHEMA.fields],
        )
