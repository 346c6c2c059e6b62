"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload spans_batch --seed 1 --seconds 8 --trace 0

Workloads: spans_batch, bytes_batch (Spark local[2]) and facade_requests
(one process, no Spark); see perfbench/README.md. The last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The lines before it report the input
properties, the drift probe and each metric by name with its unit.

Work files go to `.perfbench_work/` at the repository root: the input
cache survives the run, everything else is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# unit_docs: documents per timed pass (Spark) or request block (facade),
# a multiple of 211 so every unit holds the same number of giant docs;
# warm_docs: documents of the warm-up unit; unit_s: the seconds one unit
# takes on the 4-vCPU box the benchmark was sized on, which turns
# --seconds into a number of units; max_units caps the Spark workloads,
# whose input generation and correctness check cost more per document
# than the timed pass itself (spans_batch measures about 7 s, bytes_batch
# about 14 s, facade_requests the full --seconds)
WORKLOADS = {
    "spans_batch": {"kind": "spans", "warm_docs": 12 * 211,
                    "unit_docs": 12 * 211, "unit_s": 1.1, "max_units": 6},
    "bytes_batch": {"kind": "bytes", "warm_docs": 4 * 211,
                    "unit_docs": 4 * 211, "unit_s": 1.7, "max_units": 8},
    "facade_requests": {"kind": "requests", "warm_docs": 211,
                        "unit_docs": 211, "unit_s": 0.8, "max_units": 100},
}
MIN_UNITS = 4  # a traced run needs untraced and traced units (ABBA)
MIN_REQUESTS = 1000  # p99 needs ten samples beyond it

END_TO_END_UNITS = {"docs_per_s": "1/s", "latency_p50_ms": "ms",
                    "latency_p99_ms": "ms", "setup_s": "s", "peak_rss_mb": "MB"}


def _units(workload: str, seconds: int) -> int:
    spec = WORKLOADS[workload]
    n = min(spec["max_units"], max(MIN_UNITS, round(seconds / spec["unit_s"])))
    if spec["kind"] == "requests":
        n = max(n, math.ceil(MIN_REQUESTS / spec["unit_docs"]))
    return n


def main(argv=None) -> int:
    t_main = time.time()
    from perfbench import procs

    age_s = procs.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("two_tier_document_parser_spark", "oracle"):
        if not (ROOT / need).is_dir():
            print(f"perfbench: {ROOT / need} not found; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2

    spec = WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    try:
        from perfbench import inputs

        t_gen = time.time()
        manifest = inputs.ensure_inputs(
            ROOT, args.workload, spec["kind"], args.seed, spec["warm_docs"],
            spec["unit_docs"], _units(args.workload, args.seconds))
        gen_s = time.time() - t_gen
        pre_setup_s = age_s + (t_gen - t_main)
        if spec["kind"] == "requests":
            from perfbench import facade

            res = facade.run(manifest, bool(args.trace), work, ROOT)
        else:
            from perfbench import sparkrun

            res = sparkrun.run(args.workload, manifest, bool(args.trace), work,
                               pre_setup_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["gen_s"] = gen_s
    _report(args, manifest["props"], res)
    return 0


def _report(args, props: dict, res: dict) -> None:
    from perfbench import layers

    probe = res["probe"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    print("input " + json.dumps(props, sort_keys=True))
    print("probe " + json.dumps({
        "py_loop_ms_median": statistics.median(probe["py_loop_ms"]),
        "py_loop_ms": [round(x, 3) for x in probe["py_loop_ms"]],
        "membw_gbps": round(probe["membw_gbps"], 3),
    }))
    extra = {k: res[k] for k in ("gen_s", "check_s", "passes", "setup_samples_s",
                                 "latency_samples", "peak_rss_mb_before_timed")
             if k in res}
    print("detail " + json.dumps(extra))
    if args.trace:
        metrics = layers.complete(res["metrics"])
    else:
        if set(res["metrics"]) != set(END_TO_END_UNITS):
            raise RuntimeError(f"end-to-end metrics {sorted(res['metrics'])} "
                               f"!= {sorted(END_TO_END_UNITS)}")
        metrics = {k: {"value": res["metrics"][k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
        if name == "peak_rss_mb" and "peak_rss_mb_before_timed" in res:
            print(f"  (VmHWM before the first timed request: "
                  f"{res['peak_rss_mb_before_timed']:.6g} MB)")
    print(f"ops attempted={res['attempted']} failed={res['failed']}")
    for doc_id, why in sorted(res["failures"].items())[:10]:
        print(f"failed {doc_id}: {why}")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
