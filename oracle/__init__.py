"""Single-threaded, per-document reference implementation ("oracle").

This package is the in-repo analogue of the reference parser
(daddal001/two_tier_document_parser): plain scalar Python, one
document at a time, written for clarity. Golden fixtures under
tests/fixtures/ are produced by this code and frozen; the vectorized
Spark engine (two_tier_document_parser_spark/) must match them
bit-for-bit on every (kind, text, media_ref, order) tuple and every
markdown snapshot (SURVEY.md §5.2).
"""

from .routing import route_doc
from .tier1 import tier1_extract
from .tier2 import tier2_extract


def extract_doc(doc: dict) -> dict:
    """Full per-document cascade: route, then extract with the routed
    tier — the oracle equivalent of the engine's route-then-extract
    (reference usage pattern: examples/demo_client.py:23-47). Invalid
    or oversize documents come back as quarantine rows (tier='error'),
    matching the engine's error channel."""
    tier = route_doc(doc)
    if tier == "error":
        return {
            "doc_id": doc.get("doc_id") or "",
            "tier": "error",
            "pages": 0,
            "spans": [],
            "markdown": "",
            "n_images": 0,
            "n_tables": 0,
            "n_formulas": 0,
            "skipped_pages": [],
            "error": "quarantined",
        }
    return tier1_extract(doc) if tier == "fast" else tier2_extract(doc)
