"""k-means soak: integer Lloyd's (clustering.kmeans_q8, Arrow kernel)
on the 1M-vector synthetic embedding corpus — 2000x the sf0.01 table —
with the evidence classes the repo's scale claims use:

- CROSS-PARALLELISM BIT-EQUALITY: the whole training trajectory is
  non-negative int64 (order-independent sums, first-min argmin), so
  local[8] and local[32] must produce IDENTICAL assignments — checked
  by an exact fingerprint (sum of dist_q, cluster-weighted id hash,
  per-cluster counts), not a row count. This is the soak-scale analog
  of the DuckDB oracle equality the driver checks at sf0.01.
- SCALING: same job at two parallelism levels on the same parquet
  (the sandbox's stand-in for the N->4N cluster-size criterion),
  reported as throughput at both + efficiency; per-rep in-band
  /proc/stat steal recorded, reps with steal > 1% discarded (repo
  bench-hygiene rule), 45 s quiesce between rungs.
- MEMORY: peak RSS of the subprocess tree at 0.5 s cadence — driver
  state is k*dim ints per iteration; the footprint must be set by the
  localCheckpoint'd partition sizing, not by k or iters.

Run: python jobs/kmeans_soak.py [n_vectors] [--cores 8,32] [--k 64]
Writes BENCH/soak_kmeans.json and prints the same JSON line.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import _load_meta, _load_snapshot  # noqa: E402
from jobs.soak_semantic import materialize  # noqa: E402

STEAL_CONTENDED_PCT = 1.0
QUIESCE_S = 45

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
corpus, cores, k, iters = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
spark = (SparkSession.builder.master(f"local[{{cores}}]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "24g")
    .config("spark.sql.shuffle.partitions", "32")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from two_tier_document_parser_spark.clustering import kmeans_q8
emb = spark.read.parquet(corpus)
t0 = time.time()
res = kmeans_q8(emb, k=k, iters=iters).localCheckpoint()
n = res.count()
wall = time.time() - t0
agg = res.agg(
    F.sum("dist_q").alias("wcss"),
    F.sum(F.col("cluster").cast("long") * (F.col("vec_id") % 9973)).alias("fp"),
    F.countDistinct("cluster").alias("n_clusters"),
    F.max("dist_q").alias("max_dist"),
).collect()[0]
print(json.dumps({{
    "cores": cores, "rows": n, "wall_sec": round(wall, 2),
    "vectors_per_sec": round(n / wall, 1),
    "wcss": int(agg["wcss"]), "fingerprint": int(agg["fp"]),
    "n_clusters": int(agg["n_clusters"]), "max_dist": int(agg["max_dist"]),
}}))
"""


def run_child(corpus: str, cores: int, k: int, iters: int) -> dict:
    script = CHILD.format(repo=str(REPO))
    snap0 = _load_snapshot()
    proc = subprocess.Popen(
        [sys.executable, "-c", script, corpus, str(cores), str(k), str(iters)],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    peak = 0
    while proc.poll() is None:
        ppid, rss = {}, {}
        for pid_dir in Path("/proc").glob("[0-9]*"):
            try:
                stat = (pid_dir / "status").read_text()
            except OSError:
                continue
            pid = int(pid_dir.name)
            for ln in stat.splitlines():
                if ln.startswith("PPid:"):
                    ppid[pid] = int(ln.split()[1])
                elif ln.startswith("VmRSS:"):
                    rss[pid] = int(ln.split()[1])

        def in_tree(pid: int) -> bool:
            seen = 0
            while pid > 1 and seen < 64:
                if pid == proc.pid:
                    return True
                pid = ppid.get(pid, 0)
                seen += 1
            return False

        peak = max(peak, sum(v for p_, v in rss.items() if in_tree(p_)))
        time.sleep(0.5)
    rec = json.loads(proc.stdout.read().strip().splitlines()[-1])
    rec["peak_tree_rss_gb"] = round(peak / 1024 / 1024, 2)
    rec["load"] = _load_meta(snap0, _load_snapshot())
    rec["contended"] = rec["load"].get("steal_pct", 0.0) > STEAL_CONTENDED_PCT
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n", nargs="?", type=int, default=1_000_000)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--k", type=int, default=64)
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    corpus = materialize(args.n)
    cores = [int(c) for c in args.cores.split(",")]
    rungs: dict[int, list[dict]] = {}
    for c in cores:
        for _ in range(args.reps):
            time.sleep(QUIESCE_S)
            rungs.setdefault(c, []).append(
                run_child(corpus, c, args.k, args.iters)
            )
    best = {}
    for c, reps in rungs.items():
        calm = [r for r in reps if not r["contended"]] or reps
        best[c] = min(calm, key=lambda r: r["wall_sec"])
    fps = {c: (b["fingerprint"], b["wcss"], b["n_clusters"]) for c, b in best.items()}
    result = {
        "op": "kmeans_q8 (arrow kernel)",
        "n_vectors": args.n,
        "k": args.k,
        "iters": args.iters,
        "rungs": {str(c): best[c] for c in cores},
        "raw_reps": rungs,
        "bit_identical_across_cores": len(set(fps.values())) == 1,
        "note": (
            "fingerprint = (sum cluster*(id%9973), wcss, n_clusters); "
            "equality across parallelism levels is the soak-scale "
            "analog of the sf0.01 DuckDB-oracle equality"
        ),
    }
    if len(cores) == 2:
        lo, hi = sorted(cores)
        thr = {c: best[c]["vectors_per_sec"] for c in cores}
        result["scaling"] = {
            "n": lo,
            "4n": hi,
            "throughput": thr,
            "efficiency": round((thr[hi] / thr[lo]) / (hi / lo), 3),
        }
    out = Path(REPO / "BENCH" / "soak_kmeans.json")
    out.write_text(json.dumps(result, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
