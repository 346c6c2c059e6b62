"""Seeded workload inputs, generated in worker processes and cached on disk.

Every document is `synth.make_doc(idx, seed)`, so the same seed gives
the same inputs. A run is split into *units* of whole documents: one
warm-up unit, then the timed units (a Spark pass or a block of facade
requests). Each unit owns a disjoint id range and every unit size is a
multiple of 211 (`synth.GIANT_MOD`), so each unit holds the same number
of 200-page giant documents on every seed.

Byte payloads (bytes_batch, facade_requests) take their format from the
id (pdf, html, ttdp in equal thirds). Two ids in every 198 become
truncated payloads, half PDF and half TTDP1; HTML is never truncated,
because an HTML prefix is still a well-formed HTML document, so only
the PDF and TTDP1 prefixes are payloads the decoder must quarantine.

Generation happens before any timed region and before the set-up
clock. It runs in a few separate Python processes (no pool, so nothing
outlives the call) that also run the oracle, and the result is kept
under the checkout's `.perfbench_work/cache/` keyed by (workload, seed,
size). Run as a module, this file is the generator worker:
`python3 -m perfbench.inputs <tasks.json> <worker> <n_workers>`.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

GIANT_PERIOD = 211  # synth.GIANT_MOD: one giant document per 211 ids
FORMATS = ("pdf", "html", "ttdp")
EXTENSIONS = {"pdf": ".pdf", "html": ".html", "ttdp": ".ttdp"}
TRUNCATE_PERIOD, TRUNCATE_RESIDUES = 198, (0, 101)  # pdf, ttdp ids
ERROR_ROW = {"tier": "error", "pages": 0, "skipped_pages": [], "markdown": "",
             "spans": []}
CACHE_KEEP = 6  # cache entries kept; older ones are deleted
GEN_WORKERS = 4


def doc_format(idx: int) -> str:
    return FORMATS[idx % 3]


def is_truncated(idx: int) -> bool:
    return idx % TRUNCATE_PERIOD in TRUNCATE_RESIDUES


# ---------------------------------------------------------------------------
# worker side
# ---------------------------------------------------------------------------


def _payload(doc: dict, fmt: str) -> bytes:
    from two_tier_document_parser_spark import binary_io, html_io, pdf_io

    render = {"pdf": pdf_io.render_pdf, "html": html_io.render_html,
              "ttdp": binary_io.encode_doc}[fmt]
    return render(doc)


def _page_layouts(doc: dict) -> list[str]:
    """One key per page with layout boxes: the page's box geometry in
    stream order, which is what `layout._xycut_cached` is keyed on."""
    import hashlib

    keys, page = [], []
    for s in doc["spans"] + [{"kind": "page_break"}]:
        if s["kind"] == "box":
            page.append(s["text"].rsplit(",", 1)[0])
        elif s["kind"] == "page_break":
            if page:
                keys.append(hashlib.blake2b(
                    "|".join(page).encode(), digest_size=8).hexdigest())
            page = []
    return keys


def make_chunk(task: dict) -> dict:
    """Generate ids [start, start+n) for one workload kind, write them as
    one parquet file and return expected digests and input properties."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import oracle
    from perfbench import check
    from two_tier_document_parser_spark import synth
    from two_tier_document_parser_spark.schemas import spans_arrow_type

    kind, seed = task["kind"], task["seed"]
    rows, expected, info = [], {}, {}
    props = Counter()
    layouts: list[str] = []
    for idx in range(task["start"], task["start"] + task["n"]):
        doc = synth.make_doc(idx, seed)
        did = doc["doc_id"]
        props["docs"] += 1
        props["spans"] += len(doc["spans"])
        props["pages"] += doc["n_pages"]
        props["giants"] += doc["n_pages"] == synth.GIANT_PAGES
        layouts += _page_layouts(doc)
        want = oracle.extract_doc(doc)
        if kind == "spans":
            rows.append(doc)
        else:
            fmt = doc_format(idx)
            payload = _payload(doc, fmt)
            if is_truncated(idx):
                payload = payload[: len(payload) // 2]
                want = ERROR_ROW
                props["truncated"] += 1
            props["fmt_" + fmt] += 1
            props["payload_bytes"] += len(payload)
            row = {"doc_id": did, "payload": payload}
            if kind == "requests":
                row["filename"] = did + EXTENSIONS[fmt]
            rows.append(row)
            info[did] = [fmt, is_truncated(idx), want["tier"]]
        props["tier_" + want["tier"]] += 1
        props["out_spans"] += len(want["spans"])
        expected[did] = (check.expected_response_digest(want)
                         if kind == "requests" else check.row_digest(want))
    if kind == "spans":
        schema = pa.schema([("doc_id", pa.string()), ("doc_class", pa.string()),
                            ("n_pages", pa.int32()), ("spans", spans_arrow_type())])
    elif kind == "bytes":
        schema = pa.schema([("doc_id", pa.string()), ("payload", pa.binary())])
    else:
        schema = pa.schema([("doc_id", pa.string()), ("filename", pa.string()),
                            ("payload", pa.binary())])
    os.makedirs(os.path.dirname(task["path"]), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), task["path"])
    return {"ids": list(expected), "expected": expected, "props": dict(props),
            "layouts": layouts, "info": info}


def _worker_main(tasks_file: str, worker: int, n_workers: int) -> None:
    tasks = json.loads(Path(tasks_file).read_text())
    for i, task in enumerate(tasks):
        if i % n_workers == worker:
            out = make_chunk(task)
            Path(task["path"] + ".json").write_text(json.dumps(out))


# ---------------------------------------------------------------------------
# parent side
# ---------------------------------------------------------------------------


def _run_workers(root: Path, tasks: list[dict], tasks_file: Path) -> None:
    tasks_file.write_text(json.dumps(tasks))
    n = min(GEN_WORKERS, len(tasks))
    procs = [
        subprocess.Popen([sys.executable, "-m", "perfbench.inputs",
                          str(tasks_file), str(w), str(n)], cwd=root)
        for w in range(n)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"input generator exited with codes {codes}")


def _merge(units: list[dict], results: dict[str, dict]) -> dict:
    expected: dict[str, list] = {}
    timed = Counter()
    layouts: list[str] = []
    for u in units:
        u["ids"], u["out_spans"] = [], 0
        for part in u["parts"]:
            r = results[part]
            u["ids"] += r["ids"]
            u["out_spans"] += r["props"].get("out_spans", 0)
            layouts += r["layouts"]
            if u["name"] == "warmup":  # format, truncated, tier per doc
                u.setdefault("info", {}).update(r["info"])
            else:
                expected.update(r["expected"])
                timed.update(r["props"])
    docs = timed["docs"]
    props = {
        "docs": docs,
        "spans": timed["spans"],
        "pages": timed["pages"],
        "payload_bytes": timed["payload_bytes"],
        "format_share": {f: round(timed["fmt_" + f] / docs, 4)
                         for f in FORMATS if timed["fmt_" + f]},
        "giant_share": round(timed["giants"] / docs, 5),
        "truncated_share": round(timed["truncated"] / docs, 5),
        "tier_mix": {t: timed["tier_" + t] for t in ("fast", "deep", "error")},
        "page_layouts": len(layouts),
        "repeated_page_layouts": len(layouts) - len(set(layouts)),
    }
    return {"units": units, "expected": expected, "props": props}


def ensure_inputs(root: Path, workload: str, kind: str, seed: int,
                  warm_docs: int, unit_docs: int, units: int) -> dict:
    """Return the input manifest for (workload, seed, size), generating
    and caching it first when absent."""
    cache = root / ".perfbench_work" / "cache"
    entry = cache / f"{workload}-seed{seed}-w{warm_docs}-{units}x{unit_docs}"
    manifest = entry / "manifest.json"
    if not manifest.exists():
        tmp = cache / f".tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        files = 1 if kind == "requests" else 2  # one file per Spark slot
        plan, tasks = [], []
        names = ["warmup"] + [f"unit-{u:03d}" for u in range(units)]
        for u, name in enumerate(names):
            n = warm_docs if u == 0 else unit_docs
            start = 0 if u == 0 else warm_docs + (u - 1) * unit_docs
            parts = []
            for k in range(files):
                lo, hi = start + k * n // files, start + (k + 1) * n // files
                path = str(tmp / name / f"part-{k}.parquet")
                tasks.append({"kind": kind, "seed": seed, "start": lo,
                              "n": hi - lo, "path": path})
                parts.append(f"{name}/part-{k}.parquet")
            plan.append({"name": name, "parts": parts})
        _run_workers(root, tasks, tmp / "tasks.json")
        results = {p: json.loads((tmp / (p + ".json")).read_text())
                   for u in plan for p in u["parts"]}
        for p in results:
            (tmp / (p + ".json")).unlink()
        (tmp / "tasks.json").unlink()
        (tmp / "manifest.json").write_text(json.dumps(_merge(plan, results)))
        shutil.rmtree(entry, ignore_errors=True)
        tmp.rename(entry)
        _evict(cache, keep=entry)
    os.utime(entry)
    out = json.loads(manifest.read_text())
    out["dir"] = str(entry)
    check_disjoint(out["units"])
    return out


def check_disjoint(units: list[dict]) -> None:
    """Every unit's doc ids must be new to the run: no timed unit reads a
    document of the warm-up unit or of another timed unit."""
    seen: set[str] = set()
    for u in units:
        ids = set(u["ids"])
        if len(ids) != len(u["ids"]) or ids & seen:
            raise RuntimeError(f"unit {u['name']} repeats documents")
        seen |= ids


def _evict(cache: Path, keep: Path) -> None:
    entries = sorted((p for p in cache.iterdir()
                      if p.is_dir() and not p.name.startswith(".")),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    _worker_main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
