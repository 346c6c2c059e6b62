"""Float vs int8-quantized verify, measured head-to-head at 1M
vectors: the same SRP-LSH candidate pipeline (identical signature
pass, identical buckets) verified once with array<float> payloads
(lsh_near_dup_pairs) and once with array<tinyint>
(lsh_near_dup_pairs_q8).

Why this measurement exists: the 4M-vector semantic-dedup soak's
event-log autopsy (PLANS.md "bandwidth wall") showed the verify
join's sort/shuffle stages carrying 256-byte float vectors per row
and saturating single-box memory bandwidth — per-task CPU inflated
~3x at 32 threads. Quantizing the verify payload to 64 tinyints
attacks exactly that term; this job reports the wall-clock delta,
the pair-count agreement, and the planted-truth recall of BOTH
variants (the corpus embeds known duplicate clusters; see
jobs/soak_semantic.py::materialize), interleaving reps
float/q8/float/... so window drift hits both sides equally.

Run: python jobs/q8_verify_bench.py [n_vectors] [reps]
Writes BENCH/q8_verify.json and prints the same JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from jobs.soak_semantic import materialize, planes_for  # noqa: E402

N_TABLES = 8
THRESHOLD_X100 = 90

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
corpus, variant = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[32]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "24g")
    .config("spark.sql.shuffle.partitions", "32")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from two_tier_document_parser_spark.similarity import (
    lsh_near_dup_pairs, lsh_near_dup_pairs_q8, quantize_embeddings)
emb = spark.read.parquet(corpus)
if variant == "q8_pre":
    # write-time quantization (the FAISS-SQ8 deployment shape): the
    # q8 column is materialized ONCE at ingest; only the verify read
    # is timed
    q8_path = corpus + "_q8"
    import pathlib
    if not (pathlib.Path(q8_path) / "_SUCCESS").exists():
        quantize_embeddings(emb).write.mode("overwrite").parquet(q8_path)
    q8 = spark.read.parquet(q8_path)
    t0 = time.time()
    res = lsh_near_dup_pairs_q8(
        emb, threshold_x100={thr}, n_planes={planes},
        n_tables={tables}, max_bucket=2000, q8_table=q8,
    ).localCheckpoint()
else:
    fn = lsh_near_dup_pairs if variant == "float" else lsh_near_dup_pairs_q8
    t0 = time.time()
    res = fn(emb, threshold_x100={thr}, n_planes={planes},
             n_tables={tables}, max_bucket=2000).localCheckpoint()
n_pairs = res.count()
wall = time.time() - t0
# planted-truth pairs: ids in the same 20-block with id % 20 <= 3
# are near-copies of the block base (cosine ~0.997 >> 0.90)
planted = res.filter(
    (F.col("a") % 20 <= 3) & (F.col("b") % 20 <= 3)
    & (F.floor(F.col("a") / 20) == F.floor(F.col("b") / 20))
).count()
print(json.dumps({{"variant": variant, "wall_sec": round(wall, 2),
                   "pairs": n_pairs, "planted_found": planted}}))
"""


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    corpus = materialize(n)
    script = CHILD.format(
        repo=str(REPO),
        thr=THRESHOLD_X100,
        planes=planes_for(n),
        tables=N_TABLES,
    )
    # every complete 20-block plants one base + 3 members = C(4,2)
    # pairs above the 0.90 threshold
    expected_planted = 6 * (n // 20)
    runs: dict[str, list[dict]] = {"float": [], "q8": [], "q8_pre": []}
    load0 = round(os.getloadavg()[0], 2)
    for _ in range(reps):
        # interleaved: drift is shared
        for variant in ("float", "q8", "q8_pre"):
            out = subprocess.run(
                [sys.executable, "-c", script, corpus, variant],
                capture_output=True,
                text=True,
                check=True,
            )
            runs[variant].append(json.loads(out.stdout.strip().splitlines()[-1]))
    med = {
        v: statistics.median(r["wall_sec"] for r in runs[v]) for v in runs
    }
    result = {
        "metric": "LSH near-dup verify wall, float vs int8 payload",
        "n_vectors": n,
        "threshold_x100": THRESHOLD_X100,
        "n_planes": planes_for(n),
        "n_tables": N_TABLES,
        "reps": reps,
        "loadavg_1m_start": load0,
        "wall_median_sec": med,
        "speedup_q8": round(med["float"] / med["q8"], 3)
        if med["q8"]
        else None,
        "speedup_q8_pre": round(med["float"] / med["q8_pre"], 3)
        if med.get("q8_pre")
        else None,
        "pairs": {v: runs[v][0]["pairs"] for v in runs},
        "planted_expected": expected_planted,
        "planted_recall": {
            v: round(runs[v][0]["planted_found"] / expected_planted, 6)
            for v in runs
        },
        "rep_walls": {
            v: [r["wall_sec"] for r in runs[v]] for v in runs
        },
    }
    out_path = REPO / "BENCH" / "q8_verify.json"
    out_path.write_text(json.dumps(result, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
