"""Per-request compatibility facade.

A user of the reference talks to two HTTP services and gets a
`ParseResponse` back per document (reference fast/models.py:8-11,
accurate/models.py:8-52). This module reproduces that request-level
surface on top of the engine so switching is mechanical:

    POST :8004/parse  (fast)      -> parse_document(doc, tier="fast")
    POST :8005/parse  (accurate)  -> parse_document(doc, tier="accurate")
    client auto-routing           -> parse_document(doc)  # tier="auto"
    batch over a corpus           -> pipeline.extract(spark, raw_df)

The response dict matches the reference's field names: `markdown`,
`metadata{pages, processing_time_ms, parser, filename, ...}` for both
tiers; the accurate tier adds `images` / `tables` / `formulas` lists
with positional ids in first-seen DFS order exactly as
accurate/service.py:172-216 assigns them (`page_{p}_img_{i}` etc.),
each with its layout-region `bbox` and — for images — a real base64
PNG (from-scratch stdlib encoder, png.py; deterministic raster since
page pixels don't exist in the span model).

Single-document calls run the engine's OWN tier cores
(tier1.extract_fast / tier2.extract_deep, the functions the Arrow
batch kernels call per document) on the document's span lists: no
Spark session, no Arrow round trip. So `parse_document` is
bit-identical to the engine's batch output by construction and the
facade deploys with engine.zip alone.

What a request imports: a plain PDF, HTML or TTDP1 request needs only
the standard library (the sniff imports just the decoder it picks,
and the artifact PNGs are built from bytes). numpy is loaded only by
an encrypted PDF, whose AES/RC4 decryption (pdfcrypt) pdf_io imports
on demand. pyspark and pyarrow are never loaded.
"""

from __future__ import annotations

import re
import time

from .routing import route_doc
from .spec import ENGINE_VERSION
from .tier1 import extract_fast
from .tier2 import extract_deep

_REF_RE = re.compile(r"page_(\d+)_(img|table|formula)_(\d+)")


def _artifacts(spans: list[dict]) -> tuple[list[dict], list[dict], list[dict]]:
    images: list[dict] = []
    tables: list[dict] = []
    formulas: list[dict] = []
    for s in spans:
        m = _REF_RE.fullmatch(s.get("media_ref") or "")
        if not m:
            continue
        page = int(m.group(1))
        # reference bbox is Optional[list] (accurate/models.py:12):
        # [x0,y0,x1,y1] of the emitting layout region, None when the
        # artifact had no geometry
        bbox = list(s["bbox"]) if s.get("bbox") else None
        if s["kind"] == "image":
            # reference ImageData (accurate/models.py:8-13); the PNG
            # is real (from-scratch stdlib encoder, png.py) with a
            # deterministic raster — see media_side_table docstring
            import base64

            from .png import artifact_png

            images.append(
                {
                    "image_id": s["media_ref"],
                    "image_base64": base64.b64encode(
                        artifact_png(s["text"] or "", bbox)
                    ).decode("ascii"),
                    "page": page,
                    "bbox": bbox,
                }
            )
        elif s["kind"] == "table":
            # reference TableData (accurate/models.py:16-21)
            tables.append(
                {
                    "table_id": s["media_ref"],
                    "markdown": s["text"],
                    "page": page,
                    "bbox": bbox,
                }
            )
        elif s["kind"] == "formula":
            # reference FormulaData (accurate/models.py:24-29)
            formulas.append(
                {
                    "formula_id": s["media_ref"],
                    "latex": s["text"],
                    "page": page,
                    "bbox": bbox,
                }
            )
    return images, tables, formulas


def _route_one(doc: dict) -> str:
    """The engine's routing rule (routing.route, the one copy the
    batch kernel also runs) on one document: 'fast', 'deep' or
    'error'. The facade quarantines exactly the documents the batch
    engine emits as tier='error'."""
    return route_doc(doc)[0]


def _run_kernel_one(doc: dict, routed: str) -> dict:
    """The engine's tier core on one document's span lists -> its
    documents_out row as a dict: the same function the Arrow adapters
    run per document (tier1.extract_fast / tier2.extract_deep, no Arrow
    here), stamped with its own wall time."""
    t0 = time.time()
    spans = doc.get("spans") or []
    kinds = [s["kind"] for s in spans]
    texts = [s["text"] for s in spans]
    if routed == "fast":
        out = extract_fast(kinds, texts)
    else:
        out = extract_deep(kinds, texts, [s.get("media_ref") for s in spans])
    return out.row(str(doc.get("doc_id", "")), int((time.time() - t0) * 1000))


def parse_document(doc: dict, tier: str = "auto") -> dict:
    """One documents_raw row -> a reference-shaped ParseResponse dict.

    tier="auto" routes like the engine (routing.route, the batch rule);
    "fast"/"accurate" force a tier like calling the respective service
    directly (anything else raises ValueError, mirroring the services'
    request validation). Parse errors come back as {"error": ...}
    (reference accurate/service.py:240-246), never as an exception."""
    if tier not in ("auto", "fast", "accurate"):
        raise ValueError(
            f"tier must be 'auto', 'fast' or 'accurate', got {tier!r}"
        )
    t0 = time.time()
    routed = _route_one(doc) if tier == "auto" else (
        "fast" if tier == "fast" else "deep"
    )
    if routed == "error":
        # the batch engine's quarantine reason (routing.route)
        return {"error": route_doc(doc)[1]}
    out = _run_kernel_one(doc, routed)
    if out.get("error"):
        return {"error": out["error"]}

    ms = int((time.time() - t0) * 1000)
    meta = {
        "pages": out["pages"],
        "processing_time_ms": ms,
        "parser": "two_tier_document_parser_spark",
        "version": ENGINE_VERSION,
        "filename": doc.get("doc_id", ""),
    }
    resp: dict = {"markdown": out["markdown"], "metadata": meta}
    if out.get("skipped_pages"):
        # reference fast/service.py:88-91
        meta["skipped_pages"] = list(out["skipped_pages"])
        # exact reference wording (fast/service.py:90)
        meta["warning"] = (
            f"Skipped {len(out['skipped_pages'])} page(s) due to parsing errors"
        )
    if routed != "fast":
        images, tables, formulas = _artifacts(out["spans"])
        resp.update(images=images, tables=tables, formulas=formulas)
        meta["accuracy_tier"] = "high"
        meta["backend"] = "deterministic"
        meta["gpu_used"] = False
    return resp


_FAST_CAP = 100 * 1024 * 1024      # reference fast/app.py:71-73
_ACCURATE_CAP = 500 * 1024 * 1024  # reference accurate/app.py:125-127
_EXTS = (".pdf", ".html", ".htm", ".ttdp")


def _decode_payload(payload: bytes, filename: str) -> dict | None:
    """Sniff + decode raw document bytes into a documents_raw row via
    the shared router (ingest.sniff_decode_doc — same kernel as the
    batch CLI and the streaming path). Content wins over extension (a
    .pdf that is actually HTML still parses); None = undecodable.
    Decoded-but-empty documents pass through: the router
    (_route_one) quarantines them exactly like the batch engine."""
    from .ingest import sniff_decode_doc

    doc = sniff_decode_doc(payload)
    if doc is None:
        return None
    doc["doc_id"] = filename
    return doc


def parse_bytes(payload: bytes, filename: str, tier: str = "auto") -> dict:
    """The reference's request-level contract, bytes-in (fast/app.py:
    49-83, accurate/app.py:100-137): opaque document bytes + filename
    -> ParseResponse dict. Validation mirrors the services: extension
    check (400 semantics), per-tier size caps with the reference's
    exact 413 wording, then decode (%PDF-/TTDP1/HTML sniffed by
    content) and the same single-document kernel path as
    `parse_document`. Errors come back in-band, never as exceptions."""
    if not str(filename).lower().endswith(_EXTS):
        return {"error": "Unsupported file type (use .pdf, .html or .ttdp)"}
    cap = _ACCURATE_CAP if tier == "accurate" else _FAST_CAP
    if len(payload) > cap:
        # exact reference wording, fast/app.py:73 / accurate/app.py:127
        return {"error": f"File too large (max {cap // (1024 * 1024)}MB)"}
    doc = _decode_payload(bytes(payload), str(filename))
    if doc is None:
        return {"error": "invalid document"}
    return parse_document(doc, tier)


def health() -> dict:
    """Health/introspection (reference fast/app.py:39-46 and
    accurate/app.py:90-97 expose status + concurrency config): the
    engine analogue reports the facade's static capabilities — there
    is no worker pool to probe because Spark task scheduling (or the
    in-process kernel for single documents) replaces it."""
    import os

    return {
        "status": "healthy",
        "workers": os.cpu_count() or 1,
        "no_gil": False,
        "parser": "two_tier_document_parser_spark",
        "version": ENGINE_VERSION,
        "tiers": ["fast", "accurate", "auto"],
        "formats": list(_EXTS),
    }
