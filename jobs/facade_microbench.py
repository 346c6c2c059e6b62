"""Single-thread per-step timings of the per-request facade, no Spark.

Seeded `synth` documents are rendered to PDF, HTML and TTDP1 payloads
(in turn, by index) with the engine's own renderers, decoded once, and
then each step of a request is timed on its own:

- `route_doc`: the routing rule on one decoded document;
- `sniff_decode_doc.<fmt>`: one payload of that format to a row dict;
- `run_kernel_one.<tier>`: `api._run_kernel_one` on one decoded
  document of that tier;
- `artifact_png`: `png.artifact_png` on one image artifact of the
  deep documents' outputs (its seed text and bbox), per image;
- `tier1_batches` / `tier2_batches`: the Arrow batch kernels on
  256-document batches of span docs of their tier, per document;
- `cold_start`: `COLD_STARTS` fresh `sys.executable` interpreters, one
  after another, each of which imports `api` and answers one deep PDF
  request that has images; the wall time from launch to its answer.

Only decodable, routable documents are timed. Each step but
`cold_start` runs `REPS` times over all its inputs; a rep's time per
operation is its total divided by the operation count, and the line
reports the best and the median rep in microseconds. `cold_start`
reports the median and the interquartile range of its samples in
milliseconds. Output is one JSON line.

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
import subprocess
import sys
import tempfile
import time
from pathlib import Path

FORMATS = ("pdf", "html", "ttdp")
DOCS = 633         # documents rendered to payloads
SPAN_DOCS = 3000   # span documents for the batch kernel steps
BATCH_DOCS = 256   # documents per batch in the batch kernel steps
REPS = 5
COLD_STARTS = 15   # fresh interpreters in the cold_start step

_COLD_CHILD = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from two_tier_document_parser_spark import api; "
    "r = api.parse_bytes(open(sys.argv[2], 'rb').read(), 'warm.pdf')\n"
    "print('ready' if r.get('images') else r, flush=True)"
)


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


def _cold_start(root: Path, pdf: bytes) -> dict:
    """COLD_STARTS fresh interpreters answering one PDF request ->
    median and interquartile range of their launch-to-answer time."""
    with tempfile.TemporaryDirectory() as tmp:
        path = Path(tmp) / "warm.pdf"
        path.write_bytes(pdf)
        samples = []
        for _ in range(COLD_STARTS):
            t0 = time.perf_counter()
            proc = subprocess.Popen(
                [sys.executable, "-c", _COLD_CHILD, str(root), str(path)],
                stdout=subprocess.PIPE, text=True, cwd=tmp)
            line = proc.stdout.readline()
            samples.append((time.perf_counter() - t0) * 1e3)
            proc.stdout.close()
            if proc.wait() != 0 or line.strip() != "ready":
                raise RuntimeError(f"cold start sample failed: {line!r}")
    q1, q2, q3 = statistics.quantiles(samples, n=4)
    return {"ms_median": round(q2, 1), "ms_iqr": round(q3 - q1, 1),
            "n": len(samples)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=str(Path(__file__).resolve().parents[1]),
                    help="checkout whose engine is timed")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    root = Path(args.root).resolve()
    sys.path.insert(0, str(root))

    import pyarrow as pa

    from two_tier_document_parser_spark import (
        api, binary_io, html_io, ingest, pdf_io, png, routing, synth, tier1,
        tier2)

    render = {"pdf": pdf_io.render_pdf, "html": html_io.render_html,
              "ttdp": binary_io.encode_doc}
    payloads: dict[str, list[bytes]] = {f: [] for f in FORMATS}
    by_tier: dict[str, list[dict]] = {"fast": [], "deep": []}
    decoded = []
    images = []  # (seed text, bbox) of each image artifact
    cold_pdf = None  # the first deep PDF with images
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
        if tier == "deep":
            spans = api._run_kernel_one(row, tier)["spans"]
            found = [(s["text"] or "", list(s["bbox"]) if s.get("bbox")
                      else None) for s in spans if s["kind"] == "image"
                     and api._REF_RE.fullmatch(s.get("media_ref") or "")]
            images += found
            if fmt == "pdf" and found and cold_pdf is None:
                cold_pdf = payload

    steps = {"route_doc": _timed(routing.route_doc, decoded)}
    for fmt in FORMATS:
        steps[f"sniff_decode_doc.{fmt}"] = _timed(
            ingest.sniff_decode_doc, payloads[fmt])
    for tier, docs in by_tier.items():
        steps[f"run_kernel_one.{tier}"] = _timed(
            lambda d, t=tier: api._run_kernel_one(d, t), docs)
    steps["artifact_png"] = _timed(lambda a: png.artifact_png(*a), images)

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
    steps["cold_start"] = _cold_start(root, cold_pdf)

    print(json.dumps({"seed": args.seed, "docs": DOCS,
                      "reps": REPS, "steps": steps}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
