"""Vectorized tier-1 "fast" extractor.

Engine counterpart of oracle/tier1.py — same semantics (reference
fast/service.py:11-97: whole-doc parse, poison-triggered per-page
fallback with 1-indexed skipped_pages and the verbatim placeholder,
jusText-style block classification), but implemented as batch
dataflow: `DataFrame.mapInArrow` receives Arrow record batches, the
span arrays are flattened zero-copy via the ListArray offsets, and the
span-level work (kind coding, page indexing, poison masks, block
segmentation, char/link stats) is numpy column math + `np.add.reduceat`
per block. The only Python loop is over *blocks* (≈ a dozen per doc),
never per input row at the Spark level (input_hint mandate).

Scale notes (100 TB): map-only stage, no shuffle; incoming Arrow
batches are re-chunked to a span budget (`MAX_SPANS_PER_CHUNK`) so a
run of giant documents cannot blow the Python worker heap regardless
of spark.sql.execution.arrow.maxRecordsPerBatch; skew is handled
upstream by salting/repartition + page pre-split (presplit.py).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .schemas import OUT_SCHEMA
from .spec import (
    STOP_UNION,
    T1_MAX_LINK_DENSITY,
    T1_MIN_BLOCK_CHARS,
    T1_MIN_STOP_DENSITY,
)

# span-class codes
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
_VOCAB = list(_KIND_TO_CLS)
_CLS_OF = np.array([_KIND_TO_CLS[k] for k in _VOCAB], dtype=np.int8)
_LINK_CODE = _VOCAB.index("link_text")
_CELL_CODE = _VOCAB.index("table_cell")

MAX_SPANS_PER_CHUNK = 200_000


def _flatten_spans(batch: pa.RecordBatch):
    """ListArray of struct -> (counts per doc, flat kind/text/media)."""
    lst = batch.column("spans")
    if isinstance(lst, pa.ChunkedArray):  # defensive; batches are single-chunk
        lst = lst.combine_chunks()
    counts = pc.list_value_length(lst).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = lst.flatten()
    return counts, flat.field("kind"), flat.field("text"), flat.field("media_ref")


def rebatch_by_spans(
    batches: Iterator[pa.RecordBatch], max_spans: int = MAX_SPANS_PER_CHUNK
) -> Iterator[pa.RecordBatch]:
    """Re-chunk incoming batches so each chunk holds at most
    ~max_spans spans (always ≥1 doc). Bounds Python-side memory under
    giant-document skew; slices are zero-copy."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        counts = (
            pc.fill_null(pc.list_value_length(batch.column("spans")), 0)
            .to_numpy()
            .astype(np.int64)
        )
        if counts.sum() <= max_spans:
            yield batch
            continue
        start = 0
        acc = 0
        for i, c in enumerate(counts):
            if acc + c > max_spans and i > start:
                yield batch.slice(start, i - start)
                start, acc = i, 0
            acc += int(c)
        if start < batch.num_rows:
            yield batch.slice(start, batch.num_rows - start)


def tier1_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in rebatch_by_spans(batches):
        t0 = time.time()
        n_docs = batch.num_rows
        doc_ids = batch.column("doc_id").to_pylist()
        counts, kind_a, text_a, _ = _flatten_spans(batch)
        total = int(counts.sum())

        kcode = (
            pc.index_in(kind_a, value_set=pa.array(_VOCAB))
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
            if total
            else np.empty(0, np.int64)
        )
        cls = _CLS_OF[kcode] if total else np.empty(0, np.int8)
        tlen = (
            pc.utf8_length(text_a).to_numpy(zero_copy_only=False).astype(np.int64)
            if total
            else np.empty(0, np.int64)
        )
        texts = text_a.to_numpy(zero_copy_only=False)  # object strings
        doc_of = np.repeat(np.arange(n_docs), counts)
        dstarts = np.concatenate([[0], np.cumsum(counts)])[:-1][counts > 0]

        # page index = page_breaks strictly before span, per doc
        pb = (cls == PB).astype(np.int64)
        cs = np.cumsum(pb)
        ex = cs - pb
        base = np.repeat(ex[dstarts], counts[counts > 0]) if total else ex
        page = ex - base

        pages_per_doc = np.ones(n_docs, dtype=np.int64)
        if total:
            np.add.at(pages_per_doc, doc_of, pb)

        # poison detection (empty table_cell) -> skipped pages in
        # fallback docs (reference fast/service.py:45-73)
        poison_row = (kcode == _CELL_CODE) & (tlen == 0)
        skipped_lists: list[list[int]] = [[] for _ in range(n_docs)]
        if poison_row.any():
            pkey = doc_of[poison_row] * (int(page.max()) + 1) + page[poison_row]
            fallback_doc = np.zeros(n_docs, dtype=bool)
            fallback_doc[doc_of[poison_row]] = True
            for key in np.unique(pkey):
                d, p = divmod(int(key), int(page.max()) + 1)
                skipped_lists[d].append(p + 1)
            keys = doc_of * (int(page.max()) + 1) + page
            drop_page = np.isin(keys, np.unique(pkey))
        else:
            drop_page = np.zeros(total, dtype=bool)

        keep = (cls != PB) & ~drop_page
        k_doc = doc_of[keep]
        k_page = page[keep]
        k_cls = cls[keep]
        k_text = texts[keep]
        k_len = tlen[keep]
        k_link = kcode[keep] == _LINK_CODE
        nk = len(k_doc)

        # ---- block segmentation (vectorized) ----
        if nk:
            boundary = np.ones(nk, dtype=bool)
            boundary[1:] = (
                (k_doc[1:] != k_doc[:-1])
                | (k_page[1:] != k_page[:-1])
                | (k_cls[1:] != k_cls[:-1])
            )
            boundary |= np.isin(k_cls, (EMIT_H, EMIT_L))
            bstarts = np.flatnonzero(boundary)
            bends = np.append(bstarts[1:], nk)
            b_doc = k_doc[bstarts]
            b_page = k_page[bstarts]
            b_cls = k_cls[bstarts]
            is_para_row = (k_cls == PARA) | (k_cls == CHROME)
            stat_row = is_para_row & (k_len > 0)
            b_chars = np.add.reduceat(np.where(stat_row, k_len, 0), bstarts)
            b_link = np.add.reduceat(
                np.where(stat_row & k_link, k_len, 0), bstarts
            )
            b_pieces = np.add.reduceat(stat_row.astype(np.int64), bstarts)
        else:
            bstarts = bends = b_doc = b_page = b_cls = np.empty(0, np.int64)
            b_chars = b_link = b_pieces = np.empty(0, np.int64)
            stat_row = np.empty(0, bool)

        # ---- per-block classification + emission (loop over blocks) ----
        out_doc: list[int] = []
        out_page: list[int] = []
        out_kind: list[str] = []
        out_text: list[str] = []
        prev_cls = 1  # BAD
        prev_doc = prev_page = -1
        GOOD, BAD = 0, 1
        for bi in range(len(bstarts)):
            c = b_cls[bi]
            d = int(b_doc[bi])
            p = int(b_page[bi])
            if d != prev_doc or p != prev_page:
                prev_cls = BAD
                prev_doc, prev_page = d, p
            if c == EMIT_H or c == EMIT_L:
                s = bstarts[bi]
                if k_len[s] > 0:
                    out_doc.append(d)
                    out_page.append(p)
                    out_kind.append("heading" if c == EMIT_H else "list_item")
                    out_text.append(k_text[s])
                prev_cls = GOOD
                continue
            if c == DROP or b_pieces[bi] == 0:
                continue  # never a block in the oracle's chain
            chars = int(b_chars[bi])
            # link-density gate first (reference order in classify_block)
            if b_link[bi] / chars > T1_MAX_LINK_DENSITY:
                cls_b = BAD
                prev_cls = BAD
            else:
                s, e = bstarts[bi], bends[bi]
                if b_pieces[bi] == e - s:
                    joined = " ".join(k_text[s:e])
                else:
                    joined = " ".join(
                        k_text[j] for j in range(s, e) if stat_row[j]
                    )
                if len(joined) < T1_MIN_BLOCK_CHARS:
                    cls_b = prev_cls  # SHORT inherits
                else:
                    toks = joined.lower().split()
                    stops = sum(1 for t in toks if t in STOP_UNION)
                    cls_b = (
                        BAD
                        if stops / len(toks) < T1_MIN_STOP_DENSITY
                        else GOOD
                    )
                    prev_cls = cls_b
                if cls_b == GOOD:
                    out_doc.append(d)
                    out_page.append(p)
                    out_kind.append("text")
                    out_text.append(joined)
                continue
            # (BAD link-dense blocks fall through, nothing emitted)

        # ---- output spans assembly ----
        n_out = len(out_doc)
        ob_doc = np.asarray(out_doc, dtype=np.int64)
        span_counts = np.zeros(n_docs, dtype=np.int64)
        if n_out:
            np.add.at(span_counts, ob_doc, 1)
        order = (
            np.arange(n_out, dtype=np.int64)
            - np.repeat(
                np.concatenate([[0], np.cumsum(span_counts)])[:-1], span_counts
            )
            if n_out
            else np.empty(0, np.int64)
        )

        # ---- markdown assembly ----
        parts_map: dict[tuple[int, int], str] = {}
        if n_out:
            i = 0
            while i < n_out:
                j = i
                d, p = out_doc[i], out_page[i]
                rendered: list[str] = []
                while j < n_out and out_doc[j] == d and out_page[j] == p:
                    k = out_kind[j]
                    t = out_text[j]
                    if k == "heading":
                        rendered.append("## " + t)
                    elif k == "list_item":
                        rendered.append("- " + t)
                    else:
                        rendered.append(t)
                    j += 1
                parts_map[(d, p)] = "\n\n".join(rendered)
                i = j

        markdowns = []
        for d in range(n_docs):
            np_d = int(pages_per_doc[d])
            skipped = skipped_lists[d]
            if not skipped and np_d == 1:
                markdowns.append(parts_map.get((d, 0), ""))
                continue
            sk = set(skipped)
            page_parts = []
            for p in range(np_d):
                if (p + 1) in sk:
                    page_parts.append(
                        f"\n\n---\n**[Page {p + 1} skipped due to parsing error]**\n---\n\n"
                    )
                else:
                    page_parts.append(parts_map.get((d, p), ""))
            markdowns.append("\n\n".join(page_parts))

        # ---- build the Arrow output ----
        wall_ms = int((time.time() - t0) * 1000)
        span_offsets = np.concatenate([[0], np.cumsum(span_counts)]).astype(np.int32)
        span_struct = pa.StructArray.from_arrays(
            [
                pa.array(out_kind, type=pa.string()),
                pa.array(out_text, type=pa.string()),
                pa.array([""] * n_out, type=pa.string()),
                pa.array(order.astype(np.int32), type=pa.int32()),
                # fast tier emits no geometry (text-only linearization):
                # bbox = [] for every span, built as one zeroed offsets
                # buffer (no per-span Python lists)
                pa.ListArray.from_arrays(
                    pa.array(np.zeros(n_out + 1, np.int32), type=pa.int32()),
                    pa.array([], type=pa.int32()),
                ),
            ],
            names=["kind", "text", "media_ref", "order", "bbox"],
        )
        spans_col = pa.ListArray.from_arrays(
            pa.array(span_offsets, type=pa.int32()), span_struct
        )
        zeros = pa.array(np.zeros(n_docs, np.int32), type=pa.int32())

        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, type=pa.string()),
                pa.array(["fast"] * n_docs, type=pa.string()),
                pa.array(pages_per_doc.astype(np.int32), type=pa.int32()),
                spans_col,
                pa.array(markdowns, type=pa.string()),
                zeros,
                zeros,
                zeros,
                pa.array(skipped_lists, type=pa.list_(pa.int32())),
                pa.array(np.full(n_docs, wall_ms, np.int64), type=pa.int64()),
                pa.array([""] * n_docs, type=pa.string()),
            ],
            names=[f.name for f in OUT_SCHEMA.fields],
        )
