"""Tier routing and validation: the engine's one rule.

The reference leaves the tier choice to the caller (port 8004 fast,
8005 accurate; examples/demo_client.py:25; README.md:303-306). The
engine makes it data-driven from per-document structural counts:

- invalid (null doc_id, no spans, n_pages < 1) -> quarantine, the
  reference's 400 semantics (fast/app.py:61-62);
- deep when the box-span fraction exceeds the doc_class threshold or
  the media-span count reaches it (spec.ROUTING_MODEL), else fast;
- over the routed tier's span cap -> quarantine, the reference's 413
  semantics (100 MB fast / 500 MB accurate, fast/app.py:71-73,
  accurate/app.py:125-127), in spans (spec.T1/T2_MAX_SPANS).

`route` is numpy over per-document arrays. The fused kernel
(pipeline.fused_batches) and the giant-document pre-split (presplit)
call it through `route_batch`, the per-request facade (api._route_one)
through `route_doc`, so every entry path quarantines the same
documents with the same reason.

Determinism: the tier is a pure function of the row (SURVEY §7.7.2) —
never of partition, time, or size-of-cluster.
"""

from __future__ import annotations

import numpy as np

from .spec import (
    MEDIA_KINDS,
    REASON_INVALID,
    ROUTING_DEFAULT,
    ROUTING_MODEL,
    T1_MAX_SPANS,
    T2_MAX_SPANS,
    too_large_reason,
)

FAST, DEEP, ERROR = "fast", "deep", "error"


def route(n_spans, n_box, n_media, doc_class, null_id, n_pages):
    """Per-document arrays -> (tier, reason) string arrays; reason is
    '' on routed rows. `doc_class` is a sequence of str (None or an
    unknown class takes spec.ROUTING_DEFAULT); `n_pages` is float with
    NaN for NULL, which is valid (the SQL predicate `n_pages < 1` is
    false on null)."""
    n_spans = np.asarray(n_spans, np.int64)
    model = [ROUTING_MODEL.get(c, ROUTING_DEFAULT) for c in doc_class]
    box_t = np.array([m[0] for m in model], np.float64)
    media_t = np.array([m[1] for m in model], np.int64)
    invalid = (
        np.asarray(null_id, bool)
        | (n_spans == 0)
        | (np.asarray(n_pages, np.float64) < 1)
    )
    deep = (np.asarray(n_box) / np.maximum(n_spans, 1) > box_t) | (
        np.asarray(n_media) >= media_t
    )
    too_large = ~invalid & (
        n_spans > np.where(deep, T2_MAX_SPANS, T1_MAX_SPANS)
    )
    tier = np.where(invalid | too_large, ERROR, np.where(deep, DEEP, FAST))
    reason = np.where(
        invalid,
        REASON_INVALID,
        np.where(
            too_large,
            np.where(deep, too_large_reason(DEEP), too_large_reason(FAST)),
            "",
        ),
    )
    return tier, reason


def route_batch(batch):
    """`route` over a documents_raw Arrow batch (doc_id, doc_class,
    spans, and n_pages when present; a NULL spans list counts as
    empty). Counts come from Arrow C++ kernels over the flattened span
    kinds, not per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    lst = batch.column("spans")
    counts = pc.fill_null(pc.list_value_length(lst), 0).to_numpy()
    counts = counts.astype(np.int64)
    kind = lst.flatten().field("kind")
    doc_of = np.repeat(np.arange(n), counts)
    n_box = np.bincount(
        doc_of, pc.equal(kind, "box").to_numpy(zero_copy_only=False), n
    )
    n_media = np.bincount(
        doc_of,
        pc.is_in(kind, value_set=pa.array(sorted(MEDIA_KINDS))).to_numpy(
            zero_copy_only=False
        ),
        n,
    )
    if "n_pages" in batch.schema.names:
        n_pages = batch.column("n_pages").to_numpy(zero_copy_only=False)
    else:
        n_pages = np.full(n, np.nan)
    return route(
        counts,
        n_box,
        n_media,
        batch.column("doc_class").to_pylist(),
        pc.is_null(batch.column("doc_id")).to_numpy(zero_copy_only=False),
        n_pages,
    )


def route_doc(doc: dict) -> tuple[str, str]:
    """`route` on one documents_raw row as a dict -> (tier, reason)."""
    spans = doc.get("spans") or []
    n_pages = doc.get("n_pages")
    tier, reason = route(
        [len(spans)],
        [sum(1 for s in spans if s["kind"] == "box")],
        [sum(1 for s in spans if s["kind"] in MEDIA_KINDS)],
        [doc.get("doc_class")],
        [doc.get("doc_id") is None],
        [np.nan if n_pages is None else n_pages],
    )
    return str(tier[0]), str(reason[0])
