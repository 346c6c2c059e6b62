"""Single timed extraction run (used by jobs/scaling_bench.py).

Prints one JSON line: {"docs", "spans_out", "wall_sec", "docs_per_sec",
"master"} — wall time covers the extraction job only (scan -> route ->
tier UDFs -> count), not session startup.

An untimed warm-up pass (--warm, default 1) runs first: Python worker
fork/import and first-stage codegen are a ~3-5 s constant that a
10^12-doc job amortizes to zero, but which eats 20-30% of a short
high-core measurement — leaving it in biases every N->4N scaling ratio
downward. The timed pass also follows a System.gc() so warm-up garbage
doesn't land in the measured stage's GC pauses.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--warm", type=int, default=1, help="untimed warm-up passes")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.pipeline import (
        enable_worker_preload,
        extract,
        session_tuning,
        ship_package,
    )

    enable_worker_preload()
    spark = session_tuning(
        SparkSession.builder.master(args.master)
        .appName("ttdp-extract-once")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    raw = spark.read.parquet(args.input)
    raw.count()  # warm the scan metadata; excluded from timing

    kw = dict(salt=args.salt or None, n_partitions=args.partitions)
    for _ in range(args.warm):
        extract(spark, raw, **kw).select(F.count(F.lit(1))).collect()
    spark._jvm.System.gc()

    t0 = time.time()
    out = extract(spark, raw, **kw)
    agg = out.select(
        F.count(F.lit(1)).alias("docs"), F.sum(F.size("spans")).alias("spans")
    ).collect()[0]
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "docs": agg["docs"],
                "spans_out": agg["spans"],
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(agg["docs"] / wall, 1),
                "master": args.master,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
