"""Giant-document page pre-split + order-preserving reassembly
(SURVEY §4.3.1).

A document is atomic to its tier UDF call, so a 10-GB document would
serialize one task no matter how we salt. AQE cannot split a single
row. The only safe parallelization is the one the reference itself
uses in its fallback path — per page (fast/service.py:51-57,
accurate/service.py:160) — because both tiers are page-decomposable:

- tier-1: whole-doc parse already processes page by page; poison
  semantics are per page (a poisoned page yields the placeholder
  whether parsed alone or in a fallback loop);
- tier-2: XY-cut and region processing are per page; the ONLY
  cross-page state is the artifact id counter (`len(images)` global
  per doc, accurate/service.py:180), which reassembly renumbers.

Flow: docs with > threshold spans are routed whole by the engine's one
rule (routing.route); the ones it quarantines get the same error row
extract() emits (pipeline.quarantine_rows), the rest are exploded into
one row per page (vectorized Arrow slicing), extracted as independent
single-page docs keyed `doc_id\\x00page`, then regrouped with
applyInPandas: pages sorted, artifact ids renumbered to global
first-seen order (media_ref and the markdown image refs), skipped-page
placeholders rewritten to the global 1-indexed page number, span
`order` re-densified, page markdowns joined with "\\n\\n" —
bit-identical to the unsplit result (tested against the golden
fixtures with a tiny threshold).

Only giant docs' pages ever shuffle (the reassembly groupBy); the
normal path stays map-only.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract, quarantine_rows
from .routing import route_batch
from .schemas import OUT_SCHEMA

SPLIT_THRESHOLD = 4000
KEY_SEP = "\x00"

PAGE_SCHEMA = (
    "key string, tier string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)

_REF_RE = re.compile(r"page_0_(img|table|formula)_(\d+)")
_PLACEHOLDER_1 = "\n\n---\n**[Page 1 skipped due to parsing error]**\n---\n\n"


def split_pages_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """documents_raw (giants) -> one row per page:
    (key=doc_id\\x00page, tier, spans-without-page-breaks)."""
    for batch in batches:
        # routing on the WHOLE doc (routing.route, as extract() does);
        # quarantined giants are left to giant_error_batches
        tier, _ = route_batch(batch)
        routed = tier != "error"
        if not routed.all():
            batch, tier = batch.filter(pa.array(routed)), tier[routed]
        n = batch.num_rows
        if n == 0:
            continue
        lst = batch.column("spans")
        if isinstance(lst, pa.ChunkedArray):
            lst = lst.combine_chunks()
        counts = pc.list_value_length(lst).to_numpy(zero_copy_only=False).astype(np.int64)
        flat = lst.flatten()
        kind = flat.field("kind")
        doc_of = np.repeat(np.arange(n), counts)
        total = len(doc_of)

        # page index per span; drop page_break rows
        pb = pc.equal(kind, "page_break").to_numpy(zero_copy_only=False).astype(np.int64)
        cs = np.cumsum(pb)
        ex = cs - pb
        dstarts = np.concatenate([[0], np.cumsum(counts)])[:-1][counts > 0]
        base = np.repeat(ex[dstarts], counts[counts > 0]) if total else ex
        page = ex - base
        pages_per_doc = np.ones(n, dtype=np.int64)
        np.add.at(pages_per_doc, doc_of, pb)

        keep = pb == 0
        kept_doc = doc_of[keep]
        kept_page = page[keep]
        new_child = flat.filter(pa.array(keep))

        # output rows: every (doc, page) pair, including empty pages
        total_pages = int(pages_per_doc.sum())
        row_doc = np.repeat(np.arange(n), pages_per_doc)
        row_page = np.arange(total_pages) - np.repeat(
            np.concatenate([[0], np.cumsum(pages_per_doc)])[:-1], pages_per_doc
        )
        # span counts per (doc, page): kept rows are already sorted by
        # (doc, page); row index = page_offset_of_doc + page
        row_of_span = (
            np.repeat(np.concatenate([[0], np.cumsum(pages_per_doc)])[:-1], counts)[keep]
            + kept_page
        )
        per_row = np.zeros(total_pages, np.int64)
        np.add.at(per_row, row_of_span, 1)
        offsets = np.concatenate([[0], np.cumsum(per_row)]).astype(np.int32)

        doc_ids = batch.column("doc_id").to_pylist()
        keys = [
            f"{doc_ids[d]}{KEY_SEP}{p:06d}"
            for d, p in zip(row_doc, row_page)
        ]
        tiers = tier[row_doc].tolist()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(keys, type=pa.string()),
                pa.array(tiers, type=pa.string()),
                pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), new_child),
            ],
            names=["key", "tier", "spans"],
        )


def giant_error_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """documents_raw (giants) -> the quarantine rows extract() would
    emit for the giants the routing rule quarantines."""
    for batch in batches:
        yield from quarantine_rows(batch, *route_batch(batch))


def _reassemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """All extracted pages of one doc -> one documents_out row."""
    pdf = pdf.sort_values("page_no")
    doc_id = pdf["true_doc_id"].iloc[0]
    tier = pdf["tier"].iloc[0]
    counters = {"img": 0, "table": 0, "formula": 0}
    ref_kind = {"img": "img", "table": "table", "formula": "formula"}
    out_spans: list[dict] = []
    parts: list[str] = []
    skipped: list[int] = []
    n_img = n_tab = n_form = 0
    err = ""
    wall = 0
    for _, row in pdf.iterrows():
        p = int(row["page_no"])
        wall += int(row["processing_time_ms"])
        if row["error"]:
            err = row["error"]
        md = row["markdown"]
        if list(row["skipped_pages"]):
            skipped.append(p + 1)
            parts.append(
                f"\n\n---\n**[Page {p + 1} skipped due to parsing error]**\n---\n\n"
            )
            continue
        mapping: dict[str, str] = {}
        for s in row["spans"]:
            ref = s["media_ref"]
            if ref:
                m = _REF_RE.fullmatch(ref)
                k = m.group(1)
                new = f"page_{p}_{k}_{counters[k]}"
                counters[k] += 1
                mapping[ref] = new
                ref = new
            out_spans.append(
                {
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": ref,
                    "order": len(out_spans),
                    "bbox": list(s["bbox"]),
                }
            )
        if mapping:
            md = _REF_RE.sub(lambda m: mapping.get(m.group(0), m.group(0)), md)
        parts.append(md)
    n_img, n_tab, n_form = counters["img"], counters["table"], counters["formula"]
    return pd.DataFrame(
        [
            {
                "doc_id": doc_id,
                "tier": tier if not err else "error",
                "pages": len(pdf),
                "spans": out_spans,
                "markdown": "\n\n".join(parts),
                "n_images": n_img,
                "n_tables": n_tab,
                "n_formulas": n_form,
                "skipped_pages": skipped,
                "processing_time_ms": wall,
                "error": err,
            }
        ]
    )


def extract_giants(spark: SparkSession, giants: DataFrame) -> DataFrame:
    """Pre-split giants by page, extract pages independently, then
    reassemble in page order; quarantined giants become error rows."""
    from .tier1 import tier1_batches
    from .tier2 import tier2_batches

    giants = giants.select("doc_id", "doc_class", "n_pages", "spans")
    pages = giants.mapInArrow(split_pages_batches, PAGE_SCHEMA)

    def run_pages(batches):
        for batch in batches:
            tier = batch.column("tier")
            sub = batch.select(["key", "spans"]).rename_columns(["doc_id", "spans"])
            for name, fn in (("fast", tier1_batches), ("deep", tier2_batches)):
                mask = pc.equal(tier, name)
                if pc.any(mask).as_py():
                    yield from fn(iter([sub.filter(mask)]))

    page_out = pages.mapInArrow(run_pages, OUT_SCHEMA)
    enriched = page_out.select(
        F.split_part(F.col("doc_id"), F.lit(KEY_SEP), F.lit(1)).alias("true_doc_id"),
        F.split_part(F.col("doc_id"), F.lit(KEY_SEP), F.lit(2))
        .cast("int")
        .alias("page_no"),
        F.when(F.col("tier") == "error", "error")
        .otherwise(F.col("tier"))
        .alias("tier"),
        "spans",
        "markdown",
        "skipped_pages",
        "processing_time_ms",
        "error",
    )
    return enriched.groupBy("true_doc_id").applyInPandas(
        _reassemble_group, OUT_SCHEMA
    ).unionByName(giants.mapInArrow(giant_error_batches, OUT_SCHEMA))


def extract_with_presplit(
    spark: SparkSession,
    raw: DataFrame,
    threshold: int = SPLIT_THRESHOLD,
    **extract_kw,
) -> DataFrame:
    # a NULL spans list counts as empty (size() is NULL under ANSI)
    n_spans = F.coalesce(F.size("spans"), F.lit(0))
    normal = raw.filter(n_spans <= threshold)
    giants = raw.filter(n_spans > threshold)
    out_normal = extract(spark, normal, **extract_kw)
    out_giants = extract_giants(spark, giants)
    return out_normal.unionByName(out_giants)
