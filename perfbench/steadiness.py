"""Run one workload on several seeds and print each end-to-end metric's
median and spread (interquartile distance as a share of the median), the
figure BENCHMARK.json's bounds are held against.

    python3 perfbench/steadiness.py --workload bytes_batch --runs 10

Runs are sequential, each the command of BENCHMARK.json with --trace 0
and its run_seconds (or --seconds); seeds are first-seed ..
first-seed+runs-1.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(args.seconds),
                                "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        probe = next(line for line in out.stdout.splitlines()
                     if line.startswith("probe "))
        detail = json.loads(next(line for line in out.stdout.splitlines()
                                 if line.startswith("detail "))[7:])
        walls = [round(p["wall_s"], 3) for p in detail.get("passes", [])]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} {time.time() - t0:.1f}s correct={res['correct']} "
              f"failed={res['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
              + f" pass_walls={walls} " + probe, flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        print(f"{args.workload} {name}: median {med:.6g} spread "
              f"{(q3 - q1) / med:.4f} bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
