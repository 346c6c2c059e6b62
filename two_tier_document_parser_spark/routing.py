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

`route` is the rule itself, plain Python over one document's counts.
The fused kernel (pipeline.fused_batches) maps it over a batch through
`route_batch`, the per-request facade (api._route_one) calls it through
`route_doc`, so every entry path quarantines the same documents with
the same reason.

Determinism: the tier is a pure function of the row (SURVEY §7.7.2) —
never of partition, time, or size-of-cluster.
"""

from __future__ import annotations

from operator import itemgetter

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
_KIND = itemgetter("kind")


def route(n_spans: int, n_box: int, n_media: int, doc_class, null_id: bool,
          n_pages) -> tuple[str, str]:
    """One document's counts -> (tier, reason); reason is '' on routed
    documents. `doc_class` None or an unknown class takes
    spec.ROUTING_DEFAULT; `n_pages` None (SQL NULL) is valid, since the
    predicate `n_pages < 1` is false on null."""
    if null_id or n_spans == 0 or (n_pages is not None and n_pages < 1):
        return ERROR, REASON_INVALID
    box_t, media_t = ROUTING_MODEL.get(doc_class, ROUTING_DEFAULT)
    tier = DEEP if n_box / n_spans > box_t or n_media >= media_t else FAST
    if n_spans > (T2_MAX_SPANS if tier == DEEP else T1_MAX_SPANS):
        return ERROR, too_large_reason(tier)
    return tier, ""


def route_batch(batch):
    """`route` over a documents_raw Arrow batch (doc_id, doc_class,
    spans, and n_pages when present; a NULL spans list counts as
    empty) -> (tier, reason) numpy string arrays. The per-document
    counts come from Arrow C++ kernels over the flattened span kinds;
    only the rule runs per document."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    lst = batch.column("spans")
    counts = pc.fill_null(pc.list_value_length(lst), 0).to_numpy()
    kind = lst.flatten().field("kind")
    doc_of = np.repeat(np.arange(n), counts)

    def as_list(arr):  # NULL -> None (NaN for n_pages, also valid)
        return arr.to_numpy(zero_copy_only=False).tolist()

    def per_doc(mask):
        w = mask.to_numpy(zero_copy_only=False)
        return np.bincount(doc_of, w, n).astype(np.int64).tolist()

    out = list(map(
        route,
        counts.tolist(),
        per_doc(pc.equal(kind, "box")),
        per_doc(pc.is_in(kind, value_set=pa.array(sorted(MEDIA_KINDS)))),
        as_list(batch.column("doc_class")),
        as_list(pc.is_null(batch.column("doc_id"))),
        as_list(batch.column("n_pages")) if "n_pages" in batch.schema.names
        else [None] * n,
    ))
    return (np.array([t for t, _ in out], dtype=str),
            np.array([r for _, r in out], dtype=str))


def route_doc(doc: dict) -> tuple[str, str]:
    """`route` on one documents_raw row as a dict -> (tier, reason)."""
    kinds = list(map(_KIND, doc.get("spans") or ()))
    return route(
        len(kinds),
        kinds.count("box"),
        sum(map(MEDIA_KINDS.__contains__, kinds)),
        doc.get("doc_class"),
        doc.get("doc_id") is None,
        doc.get("n_pages"),
    )
