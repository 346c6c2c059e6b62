"""The facade_requests workload: one closed-loop client, no Spark.

The client calls `api.parse_bytes(payload, filename)` (tier "auto") back
to back on one thread, one never-seen document per request. Requests
are timed in blocks of 211 (one giant document each). Between blocks,
outside the timed region, the responses are checked and dropped with
their payloads, the next block is loaded, the garbage collector runs
and the drift probe is read. So `peak_rss_mb` holds one block of input
beside the facade's own memory; the VmHWM read just before the first
timed request is reported beside it as the harness's share.

Set-up time is sampled in fresh processes: each sample is the wall time
from launching a Python process until it has imported the facade and
answered one warm-up request on a document outside the timed set.
"""

from __future__ import annotations

import gc
import statistics
import subprocess
import sys
import time
from pathlib import Path

from perfbench import check, layers, procs, stats, trace

SETUP_SAMPLES = 5

_SETUP_CHILD = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from two_tier_document_parser_spark import api; "
    "api.parse_bytes(open(sys.argv[2], 'rb').read(), sys.argv[3]); "
    "print('ready', flush=True)"
)


def setup_sample(root: Path, payload_path: Path, filename: str) -> float:
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, "-c", _SETUP_CHILD, str(root), str(payload_path),
         filename], stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    elapsed = time.perf_counter() - t0
    proc.stdout.close()
    if proc.wait() != 0 or line.strip() != "ready":
        raise RuntimeError("facade set-up sample failed")
    return elapsed


def _load(entry: Path, unit: dict) -> list[tuple[str, str, bytes]]:
    import pyarrow.parquet as pq

    t = pq.read_table(entry / unit["parts"][0])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("filename").to_pylist(),
                    t.column("payload").to_pylist()))


def run(manifest: dict, trace_on: bool, work: Path, root: Path) -> dict:
    entry = Path(manifest["dir"])
    warm_unit, timed_units = manifest["units"][0], manifest["units"][1:]
    warm = _load(entry, warm_unit)
    # warm up on a PDF document routed deep: every decoder/kernel import
    # and the PNG encoder run once
    pick = next(r for r in warm
                if warm_unit["info"][r[0]] == ["pdf", False, "deep"])
    warm_path = work / "warmup.bin"
    warm_path.write_bytes(pick[2])
    setup = [setup_sample(root, warm_path, pick[1])
             for _ in range(SETUP_SAMPLES)]

    from two_tier_document_parser_spark import api

    api.parse_bytes(pick[2], pick[1])
    del warm, pick

    checker = check.Checker(manifest["expected"])
    latencies: list[float] = []
    probe_ms: list[float] = []
    walls: dict[bool, list[float]] = {False: [], True: []}
    counts: dict[bool, int] = {False: 0, True: 0}
    rec = trace.Recorder()
    rss_before = None
    for i, unit in enumerate(timed_units):
        # between blocks, outside the timed region: load the block's
        # payloads, collect garbage so each block starts from the same
        # heap, and read the probe
        block = _load(entry, unit)
        gc.collect()
        probe_ms.append(stats.py_loop_ms())
        if rss_before is None:
            rss_before = procs.vm_hwm_mb()
        traced = trace_on and trace.traced_unit(i)
        responses: list[object] = []
        t_block = time.perf_counter()
        if traced:
            hits0, misses0 = trace.xycut_info()
            with rec.patched(trace.FACADE_LAYERS):
                for doc_id, filename, payload in block:
                    sid = rec.begin("api.parse_bytes", doc_id)
                    try:
                        resp = api.parse_bytes(payload, filename)
                    except Exception as exc:  # a raising request is a failed op
                        resp = exc
                    rec.end(sid)
                    responses.append(resp)
            hits1, misses1 = trace.xycut_info()
            rec.counts["layout.xycut.hits"] += hits1 - hits0
            rec.counts["layout.xycut.misses"] += misses1 - misses0
        else:
            for doc_id, filename, payload in block:
                t0 = time.perf_counter()
                try:
                    resp = api.parse_bytes(payload, filename)
                except Exception as exc:  # a raising request is a failed op
                    resp = exc
                latencies.append(time.perf_counter() - t0)
                responses.append(resp)
        walls[traced].append(time.perf_counter() - t_block)
        counts[traced] += len(block)
        for (doc_id, _, _), resp in zip(block, responses):
            if isinstance(resp, Exception):
                checker.add_error(doc_id, resp)
            else:
                checker.add(doc_id, check.response_digest(resp))
        del block, responses
    peak_rss = procs.vm_hwm_mb()
    membw = stats.membw_gbps()
    attempted, failed, failures = checker.finish()

    def rate(traced: bool) -> float:
        return counts[traced] / sum(walls[traced])

    result = {
        "attempted": attempted, "failed": failed, "failures": failures,
        "probe": {"py_loop_ms": probe_ms, "membw_gbps": membw},
        "setup_samples_s": setup,
        "latency_samples": len(latencies),
        "peak_rss_mb_before_timed": rss_before,
    }
    if not trace_on:
        result["metrics"] = {
            "docs_per_s": rate(False),
            "latency_p50_ms": stats.percentile(latencies, 50) * 1e3,
            "latency_p99_ms": stats.percentile(latencies, 99) * 1e3,
            "setup_s": statistics.median(setup),
            "peak_rss_mb": peak_rss,
        }
        return result
    values = layers.span_metrics(rec.spans, rec.counts, requests=counts[True])
    values.update(layers.trace_overhead([rate(False)], [rate(True)]))
    result["metrics"] = values
    return result
