"""Extraction job entry point.

Usage (spark-submit or plain python):

    spark-submit --py-files engine.zip jobs/run_extract.py \
        --input /path/to/documents_raw_parquet --output /path/to/out

    python jobs/run_extract.py --synth 10000 --output /tmp/out

Reads a documents_raw table (FIXTURES.md §1) — or generates a
synthetic corpus distributedly with --synth N — runs the two-tier
extraction cascade, and writes documents_out parquet plus a one-line
JSON summary to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _decode_bytes_table(bin_df, fmt: str):
    """(doc_id, payload binary) -> documents_raw via the matching
    from-scratch decoder; 'bytes' sniffs per document by content
    (%PDF- / TTDP1 magic / HTML fallback) inside one Arrow kernel
    (ingest.sniff_decode_table)."""
    from two_tier_document_parser_spark import binary_io, html_io, pdf_io
    from two_tier_document_parser_spark.ingest import sniff_decode_table

    if fmt == "pdf":
        return pdf_io.parse_table(bin_df)
    if fmt == "html":
        return html_io.parse_table(bin_df)
    if fmt == "ttdp":
        return binary_io.decode_table(bin_df)
    return sniff_decode_table(bin_df)


def main() -> int:
    ap = argparse.ArgumentParser(description="two-tier extraction job")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="documents_raw parquet path")
    src.add_argument("--synth", type=int, help="generate N synthetic docs instead")
    ap.add_argument(
        "--input-format",
        default="spans",
        choices=["spans", "pdf", "html", "ttdp", "bytes", "warc"],
        help="with --input: 'spans' reads documents_raw rows (default); "
        "'pdf'/'html'/'ttdp' read a (doc_id, payload binary) table of "
        "raw document bytes and decode inside the Arrow kernel; "
        "'bytes' sniffs the format per document (content wins); "
        "'warc' reads a directory of .warc/.warc.gz crawl archives "
        "(Spark binaryFile source, one file per task) through the "
        "from-scratch WARC member walker into the HTML DOM lift",
    )
    ap.add_argument("--output", required=True, help="documents_out parquet path")
    ap.add_argument("--master", default=None, help="spark master (default: env)")
    ap.add_argument("--salt", type=int, default=0, help="doc_id salt buckets (0=off)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--checkpoint",
        action="store_true",
        help="resumable run: atomic manifest commits + per-partition "
        "lineage to <output>_lineage; re-running skips committed docs. "
        "--output may be a bare path (parquet+manifest snapshots) or "
        "iceberg-lite:<path> (from-scratch Iceberg v2 snapshot layout)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from two_tier_document_parser_spark.pipeline import (
        enable_worker_preload,
        extract,
        session_tuning,
        ship_package,
    )
    from two_tier_document_parser_spark.synth import synth_spark

    enable_worker_preload()
    builder = SparkSession.builder.appName("ttdp-extract")
    if args.master:
        builder = builder.master(args.master)
    spark = session_tuning(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)

    t0 = time.time()
    if args.input:
        if args.input.startswith("iceberg-lite:"):
            # the north-rule read path literally: documents_raw rows
            # resolved from the table's current snapshot (manifest
            # tree -> explicit file list, no directory discovery)
            from two_tier_document_parser_spark.table_io import open_table

            raw = open_table(spark, args.input).read()
        elif args.input_format == "warc":
            from pyspark.sql import functions as F

            from two_tier_document_parser_spark import html_io
            from two_tier_document_parser_spark.warc_io import unpack_table

            files = (
                spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.warc*")
                .load(args.input)
                .select(
                    F.col("path").alias("file_id"),
                    F.col("content").alias("data"),
                )
            )
            raw = html_io.parse_table(unpack_table(files))
        else:
            raw = spark.read.parquet(args.input)
            if args.input_format != "spans":
                raw = _decode_bytes_table(raw, args.input_format)
    else:
        raw = synth_spark(spark, args.synth, args.seed, partitions=args.partitions)

    kw = dict(salt=args.salt or None, n_partitions=args.partitions)
    extra = {}
    if args.checkpoint:
        from pyspark.sql import functions as F

        from two_tier_document_parser_spark.checkpoint import CheckpointedExtract

        ck = CheckpointedExtract(spark, args.output)
        run_id = ck.run(raw, **kw)
        res = ck.result()
        lineage = ck.metrics()
        # throughput is for THIS run only (a resumed run must not claim
        # docs committed by earlier runs); table-total reported separately
        run_docs = ck.data.read_run(run_id).count()
        extra = {
            "run_id": run_id,
            "run_docs": run_docs,
            "lineage_partitions": (
                lineage.filter(F.col("run_id") == run_id).count()
                if lineage is not None
                else 0
            ),
        }
    else:
        out = extract(spark, raw, **kw)
        out.write.mode("overwrite").parquet(args.output)
        res = spark.read.parquet(args.output)
    n_docs = res.count()
    by_tier = {r["tier"]: r["n"] for r in res.groupBy("tier").count().withColumnRenamed("count", "n").collect()}
    wall = time.time() - t0
    rate_docs = extra.get("run_docs", n_docs)
    print(
        json.dumps(
            {
                "docs": n_docs,
                "by_tier": by_tier,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(rate_docs / wall, 1),
                "output": args.output,
                **extra,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
