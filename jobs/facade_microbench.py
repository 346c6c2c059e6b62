"""Single-thread per-step timings of the per-request facade, no Spark.

Seeded `synth` documents are rendered to PDF, HTML and TTDP1 payloads
(in turn, by index) with the engine's own renderers, decoded once, and
then each step of a request is timed on its own:

- `route_doc`: the routing rule on one decoded document;
- `sniff_decode_doc.<fmt>`: one payload of that format to a row dict;
- `run_kernel_one.<tier>`: `api._run_kernel_one` on one decoded
  document of that tier;
- `tier1_batches` / `tier2_batches`: the Arrow batch kernels on
  256-document batches of span docs of their tier, per document.

Only decodable, routable documents are timed. Each step runs `REPS`
times over all its inputs; a rep's time per operation is its total
divided by the operation count, and the line reports the best and the
median rep in microseconds. Output is one JSON line.

    python jobs/facade_microbench.py --seed 7
    python jobs/facade_microbench.py --root ../other-checkout   # A/B

`--root` imports the engine from another checkout of this repository,
so the same script times a parent commit on the same inputs.
"""

from __future__ import annotations

import argparse
import gc
import json
import statistics
import sys
import time
from pathlib import Path

FORMATS = ("pdf", "html", "ttdp")
DOCS = 633         # documents rendered to payloads
SPAN_DOCS = 3000   # span documents for the batch kernel steps
BATCH_DOCS = 256   # documents per batch in the batch kernel steps
REPS = 5


def _timed(fn, items) -> dict:
    """fn over every item, REPS times -> best/median us per item."""
    per_op = []
    for _ in range(REPS):
        gc.collect()
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        per_op.append((time.perf_counter() - t0) / len(items) * 1e6)
    return {"us_best": round(min(per_op), 2),
            "us_median": round(statistics.median(per_op), 2),
            "n": len(items)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=str(Path(__file__).resolve().parents[1]),
                    help="checkout whose engine is timed")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, str(Path(args.root).resolve()))

    import pyarrow as pa

    from two_tier_document_parser_spark import (
        api, binary_io, html_io, ingest, pdf_io, routing, synth, tier1, tier2)

    render = {"pdf": pdf_io.render_pdf, "html": html_io.render_html,
              "ttdp": binary_io.encode_doc}
    payloads: dict[str, list[bytes]] = {f: [] for f in FORMATS}
    by_tier: dict[str, list[dict]] = {"fast": [], "deep": []}
    decoded = []
    for i, doc in enumerate(synth.synth_docs(0, DOCS, args.seed)):
        fmt = FORMATS[i % 3]
        payload = render[fmt](doc)
        row = ingest.sniff_decode_doc(payload)
        if row is None:
            continue
        row["doc_id"] = doc["doc_id"]
        tier = routing.route_doc(row)[0]
        if tier == "error":
            continue
        payloads[fmt].append(payload)
        by_tier[tier].append(row)
        decoded.append(row)

    steps = {"route_doc": _timed(routing.route_doc, decoded)}
    for fmt in FORMATS:
        steps[f"sniff_decode_doc.{fmt}"] = _timed(
            ingest.sniff_decode_doc, payloads[fmt])
    for tier, docs in by_tier.items():
        steps[f"run_kernel_one.{tier}"] = _timed(
            lambda d, t=tier: api._run_kernel_one(d, t), docs)

    span_docs = {"fast": [], "deep": []}
    for doc in synth.synth_docs(0, SPAN_DOCS, args.seed):
        tier = routing.route_doc(doc)[0]
        if tier != "error":
            span_docs[tier].append(
                {"doc_id": doc["doc_id"], "spans": doc["spans"]})
    for name, kernel, tier in (("tier1_batches", tier1.tier1_batches, "fast"),
                               ("tier2_batches", tier2.tier2_batches, "deep")):
        docs = span_docs[tier]
        batches = [pa.RecordBatch.from_pylist(docs[i:i + BATCH_DOCS])
                   for i in range(0, len(docs), BATCH_DOCS)]
        per_batch = _timed(lambda b, k=kernel: list(k(iter([b]))), batches)
        scale = len(batches) / len(docs)
        steps[name] = {"us_best": round(per_batch["us_best"] * scale, 2),
                       "us_median": round(per_batch["us_median"] * scale, 2),
                       "n": len(docs)}

    print(json.dumps({"seed": args.seed, "docs": DOCS,
                      "reps": REPS, "steps": steps}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
