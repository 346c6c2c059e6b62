"""documents_raw and documents_out, each declared once (FIXTURES.md
§§1-3, SURVEY.md §1.2).

The engine is schema-first end-to-end: the reference's schemaless
middle_json dicts (accurate/service.py:119-123) are replaced by fixed
schemas enforced at every mapInArrow boundary. `arrow_schema` is the
one declaration, built on first use; the Spark edge derives its
StructTypes from it (`spark_schema`). Neither pyspark nor pyarrow is
imported until a batch path asks for a schema, so the per-request
facade loads neither.
"""

from __future__ import annotations

import functools


@functools.cache
def arrow_schema(table: str):
    """The Arrow schema of "documents_raw" or "documents_out". No field
    and no list element is nullable."""
    import pyarrow as pa

    def struct(**types):
        return pa.struct([pa.field(n, t, False) for n, t in types.items()])

    def list_of(t):
        return pa.list_(pa.field("item", t, False))

    s, i32 = pa.string(), pa.int32()
    span_in = struct(kind=s, text=s, media_ref=s, offset=i32)
    span_out = struct(
        kind=s, text=s, media_ref=s, order=i32,
        # [x0, y0, x1, y1] in integer layout-grid units, [] when the
        # span has no geometry (tier-1 output, regions without boxes).
        # Reference parity: every ImageData/TableData/FormulaData
        # carries bbox (accurate/models.py:8-29, populated at
        # accurate/service.py:177-216); ints (not floats) keep the
        # bbox OUT of the float-free equality invariant while still
        # being exact (SURVEY §7.7.4).
        bbox=list_of(i32),
    )
    return pa.schema({
        "documents_raw": struct(doc_id=s, doc_class=s, n_pages=i32,
                                spans=list_of(span_in)),
        "documents_out": struct(
            doc_id=s, tier=s, pages=i32, spans=list_of(span_out),
            markdown=s, n_images=i32, n_tables=i32, n_formulas=i32,
            skipped_pages=list_of(i32), processing_time_ms=pa.int64(),
            error=s,
        ),
    }[table])


def spark_schema(table: str):
    """The Spark StructType of `table`, derived from `arrow_schema`."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(arrow_schema(table))


# ---------------------------------------------------------------------------
# shared Arrow-side assembly for the raw-bytes decoders (html_io /
# pdf_io / ingest): one place owns the documents_raw batch shape and
# the quarantine row, so the three decoders cannot drift
# ---------------------------------------------------------------------------


def spans_arrow_type():
    """documents_raw's `spans` type with every field nullable: the type
    the decoders build their span column with."""
    import pyarrow as pa

    span = arrow_schema("documents_raw").field("spans").type.value_type
    return pa.list_(pa.struct([f.with_nullable(True) for f in span]))


QUARANTINE_ROW = {"doc_class": "", "n_pages": 0, "spans": []}


def decode_raw_batches(batches, decode_fn):
    """(doc_id, payload binary) RecordBatches -> documents_raw
    RecordBatches via `decode_fn(payload) -> row-dict | None`. A None
    result or ANY exception becomes a quarantine-shaped row (error
    channel O19) — the kernel never raises."""
    import pyarrow as pa

    span_t = spans_arrow_type()
    for batch in batches:
        if batch.num_rows == 0:
            continue
        rows = []
        for payload in batch.column("payload").to_pylist():
            try:
                doc = decode_fn(payload)
            except Exception:  # absolute backstop
                doc = None
            rows.append(doc if doc is not None else QUARANTINE_ROW)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array([r["doc_class"] for r in rows], type=pa.string()),
                pa.array([r["n_pages"] for r in rows], type=pa.int32()),
                pa.array([r["spans"] for r in rows], type=span_t),
            ],
            names=["doc_id", "doc_class", "n_pages", "spans"],
        )


# ---------------------------------------------------------------------------
# documents_out rows as plain values (the tier cores' result): `row` is
# one document's dict for the per-request facade, `out_batch` the Arrow
# batch of many for the kernels and the quarantine channel. Both read
# the same fields, so the facade and the batch rows cannot drift.
# `core_batches` is the one Arrow adapter both tier cores run under.
# ---------------------------------------------------------------------------


class DocOut:
    """One documents_out row under construction: the output spans as
    parallel lists (`bbox` is the geometry stamped on spans emitted
    now) and the per-document fields."""

    __slots__ = ("tier", "pages", "kinds", "texts", "refs", "bboxes", "bbox",
                 "markdown", "n_img", "n_tab", "n_form", "skipped", "error")

    def __init__(self, tier: str, error: str = "") -> None:
        self.tier, self.error = tier, error
        self.pages = 0
        self.kinds: list[str] = []
        self.texts: list[str] = []
        self.refs: list[str] = []
        self.bboxes: list[list[int]] = []
        self.bbox: list[int] = []
        self.markdown = ""
        self.n_img = self.n_tab = self.n_form = 0
        self.skipped: list[int] = []

    def emit(self, kind: str, text: str, ref: str = "") -> None:
        self.kinds.append(kind)
        self.texts.append(text)
        self.refs.append(ref)
        self.bboxes.append(self.bbox)

    def row(self, doc_id: str, ms: int) -> dict:
        return {
            "doc_id": doc_id,
            "tier": self.tier,
            "pages": self.pages,
            "spans": [
                {"kind": k, "text": t, "media_ref": r, "order": i, "bbox": b}
                for i, (k, t, r, b) in enumerate(
                    zip(self.kinds, self.texts, self.refs, self.bboxes))
            ],
            "markdown": self.markdown,
            "n_images": self.n_img,
            "n_tables": self.n_tab,
            "n_formulas": self.n_form,
            "skipped_pages": self.skipped,
            "processing_time_ms": ms,
            "error": self.error,
        }


def out_batch(doc_ids: list[str], docs: list[DocOut], ms: int):
    """documents_out RecordBatch of `docs`, every row stamped `ms`."""
    import numpy as np
    import pyarrow as pa

    kinds: list[str] = []
    texts: list[str] = []
    refs: list[str] = []
    bboxes: list[list[int]] = []
    order: list[int] = []
    offsets = np.zeros(len(docs) + 1, np.int32)
    for i, d in enumerate(docs):
        kinds += d.kinds
        texts += d.texts
        refs += d.refs
        bboxes += d.bboxes
        order += range(len(d.kinds))
        offsets[i + 1] = len(kinds)
    i32, s = pa.int32(), pa.string()
    spans = pa.StructArray.from_arrays(
        [pa.array(kinds, s), pa.array(texts, s), pa.array(refs, s),
         pa.array(order, i32), pa.array(bboxes, pa.list_(i32))],
        names=["kind", "text", "media_ref", "order", "bbox"],
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, s),
            pa.array([d.tier for d in docs], s),
            pa.array([d.pages for d in docs], i32),
            pa.ListArray.from_arrays(pa.array(offsets, i32), spans),
            pa.array([d.markdown for d in docs], s),
            pa.array([d.n_img for d in docs], i32),
            pa.array([d.n_tab for d in docs], i32),
            pa.array([d.n_form for d in docs], i32),
            pa.array([d.skipped for d in docs], pa.list_(i32)),
            pa.array([ms] * len(docs), pa.int64()),
            pa.array([d.error for d in docs], s),
        ],
        names=arrow_schema("documents_out").names,
    )


# Re-chunk budget: at most ~this many spans per Arrow chunk handed to a
# tier core, whatever spark.sql.execution.arrow.maxRecordsPerBatch is.
MAX_SPANS_PER_CHUNK = 200_000


def rebatch_by_spans(batches, max_spans: int = MAX_SPANS_PER_CHUNK):
    """Re-chunk incoming batches so each chunk holds at most
    ~max_spans spans (always ≥1 doc). Bounds Python-side memory under
    giant-document skew; slices are zero-copy."""
    import numpy as np
    import pyarrow.compute as pc

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


def core_batches(batches, core, fields: tuple[str, ...]):
    """The Arrow adapter of a tier core (tier1.extract_fast,
    tier2.extract_deep). Per (re-chunked) batch: flatten the span fields
    named in `fields` to plain lists once, call `core(*one document's
    slice of each list)` per document, and build one documents_out
    batch stamped with the batch wall time."""
    import time

    import pyarrow.compute as pc

    def as_list(arr):  # numpy's tolist builds strings ~7x faster than to_pylist
        return arr.to_numpy(zero_copy_only=False).tolist()

    for batch in rebatch_by_spans(batches):
        t0 = time.time()
        lst = batch.column("spans")
        flat = lst.flatten()
        cols = [as_list(flat.field(f)) for f in fields]
        docs = []
        lo = 0
        for n in as_list(pc.fill_null(pc.list_value_length(lst), 0)):
            docs.append(core(*[c[lo:lo + n] for c in cols]))
            lo += n
        yield out_batch(as_list(batch.column("doc_id")), docs,
                        int((time.time() - t0) * 1000))
