"""End-to-end extraction job graph (SURVEY §3.4).

    scan -> validate (quarantine invalid rows, never throw)
         -> route (broadcast model, JVM-only)  [classify]
         -> persist routed                     [single-pass split]
         -> salt + repartition                 [skew defeat]
         -> tier1 mapInArrow | tier2 mapInArrow
         -> unionByName(+ error rows)          [one output table]

Design notes for 100 TB:
- the only JVM->Python hops are the two tier UDFs (Arrow batches);
  routing/validation/union are whole-stage-codegen;
- `salt` folds pmod(xxhash64(doc_id), S) into the repartition so giant
  documents from one producer spread across tasks (SURVEY §4.3.1);
- Arrow batch size is capped (ARROW_BATCH) so a batch of giant docs
  cannot blow the Python worker heap;
- classify-then-split persists the routed frame once
  (MEMORY_AND_DISK) so the scan is not executed per tier; pass
  persist=False to prefer double-scan-with-pushdown when input is a
  cheap columnar scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .routing import with_tier
from .schemas import OUT_SCHEMA
from .tier1 import tier1_map
from .tier2 import tier2_map

ARROW_BATCH = 256


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors (the programmatic equivalent of
    `spark-submit --py-files engine.zip`). Required whenever the
    driver's CWD is not the repo root — Python workers import the
    tier UDF modules by name."""
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_ttdp_shipped", False):
        return ""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="ttdp_pyfiles_"), f"{pkg_name}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._ttdp_shipped = True
    return zpath


def session_tuning(builder):
    """Recommended conf for the extraction workload.

    columnarReaderBatchSize matters enormously for this table shape:
    the vectorized parquet reader buffers N rows per columnar batch,
    and with Zipf-skewed span arrays (giant docs of ~5k spans) the
    default 4096 rows can transiently allocate hundreds of MB per
    concurrent reader — at 16-32 concurrent tasks that is a GC death
    spiral (observed: 3x wall-time inversion when scaling 4->16
    threads, OutOfMemoryError in WritableColumnVector). 256 rows keeps
    per-reader buffers bounded regardless of document skew, the same
    reasoning as the Arrow batch cap (SURVEY §7.7.5)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
    )


# NOTE: the O2 validation/quarantine predicate (reference 400/413
# semantics, fast/app.py:61-73) lives in exactly two executable
# places with identical semantics: routing.with_tier (split mode) and
# fused_batches below (fused mode) — plus the per-document mirror in
# api._route_one. A third standalone validate_split helper used to
# duplicate the rule with subtly different cap semantics and no
# callers; it was removed so the rule cannot drift.


def _error_rows(df: DataFrame, reason: str) -> DataFrame:
    """Quarantine rows in the documents_out shape. The per-row
    `quarantine_reason` (set by routing.with_tier: invalid vs
    oversize) wins over the blanket `reason` when present."""
    reason_col = (
        F.when(F.col("quarantine_reason") != "", F.col("quarantine_reason"))
        .otherwise(F.lit(reason))
        if "quarantine_reason" in df.columns
        else F.lit(reason)
    )
    return df.select(
        F.coalesce(F.col("doc_id"), F.lit("")).alias("doc_id"),
        F.lit("error").alias("tier"),
        F.lit(0).cast("int").alias("pages"),
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,"
            "order:int,bbox:array<int>>>"
        ).alias("spans"),
        F.lit("").alias("markdown"),
        F.lit(0).cast("int").alias("n_images"),
        F.lit(0).cast("int").alias("n_tables"),
        F.lit(0).cast("int").alias("n_formulas"),
        F.array().cast("array<int>").alias("skipped_pages"),
        F.lit(0).cast("bigint").alias("processing_time_ms"),
        reason_col.alias("error"),
    )


def with_salt(df: DataFrame, salt: int) -> DataFrame:
    return df.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt)))


def fused_batches(batches):
    """Single-pass kernel: route, validate, and extract inside one
    Arrow pass. The routing function is the same pure
    (doc_class, spans) -> tier rule as routing.with_tier (thresholds
    from spec.ROUTING_MODEL — the broadcast model), computed with
    Arrow C++ kernels instead of JVM higher-order functions: HOF
    lambdas over nested arrays allocate per-row ArrayData and at 16-32
    concurrent tasks the JVM allocation rate becomes a GC bottleneck
    (measured: routing-only pass inverts 3.5s@4 -> 12.6s@32 threads).
    Invalid docs (null id / no spans) become tier='error' rows here —
    no separate quarantine scan."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from .spec import (
        MEDIA_KINDS,
        REASON_INVALID,
        ROUTING_DEFAULT,
        ROUTING_MODEL,
        T1_MAX_SPANS,
        T2_MAX_SPANS,
        too_large_reason,
    )
    from .tier1 import rebatch_by_spans, tier1_batches
    from .tier2 import tier2_batches

    media = sorted(MEDIA_KINDS)

    for batch in rebatch_by_spans(batches):
        n = batch.num_rows
        lst = batch.column("spans")
        counts = pc.list_value_length(lst).to_numpy(zero_copy_only=False)
        counts = np.nan_to_num(counts.astype(np.float64)).astype(np.int64)
        kind = lst.flatten().field("kind")
        is_box = pc.equal(kind, "box").to_numpy(zero_copy_only=False)
        is_media = pc.is_in(kind, value_set=pa.array(media)).to_numpy(
            zero_copy_only=False
        )
        doc_of = np.repeat(np.arange(n), counts)
        n_box = np.zeros(n, np.int64)
        n_media = np.zeros(n, np.int64)
        if len(doc_of):
            np.add.at(n_box, doc_of, is_box)
            np.add.at(n_media, doc_of, is_media)
        classes = batch.column("doc_class").to_pylist()
        bt = np.fromiter(
            (ROUTING_MODEL.get(c, ROUTING_DEFAULT)[0] for c in classes),
            dtype=np.float64,
            count=n,
        )
        mt = np.fromiter(
            (ROUTING_MODEL.get(c, ROUTING_DEFAULT)[1] for c in classes),
            dtype=np.int64,
            count=n,
        )
        invalid = (counts == 0) | pc.is_null(batch.column("doc_id")).to_numpy(
            zero_copy_only=False
        )
        # n_pages < 1 quarantines, matching split mode (with_tier) and
        # the facade; a NULL (or absent) n_pages is valid in all three
        # (the SQL predicate `n_pages < 1` is false on null)
        if "n_pages" in batch.schema.names:
            npg = np.nan_to_num(
                batch.column("n_pages")
                .to_numpy(zero_copy_only=False)
                .astype(np.float64),
                nan=1.0,
            )
            invalid |= npg < 1
        deep_rule = ~invalid & (
            (n_box / np.maximum(counts, 1) > bt) | (n_media >= mt)
        )
        # per-tier size caps (reference 413 semantics) -> quarantine
        too_deep = deep_rule & (counts > T2_MAX_SPANS)
        too_fast = ~invalid & ~deep_rule & (counts > T1_MAX_SPANS)
        deep = deep_rule & ~too_deep
        fast = ~invalid & ~deep_rule & ~too_fast
        bad = invalid | too_deep | too_fast

        sub = batch.select(["doc_id", "spans"])
        if fast.any():
            yield from tier1_batches(iter([sub.filter(pa.array(fast))]))
        if deep.any():
            yield from tier2_batches(iter([sub.filter(pa.array(deep))]))
        if bad.any():
            nbad = int(bad.sum())
            reasons = np.where(
                invalid[bad],
                REASON_INVALID,
                np.where(
                    too_deep[bad],
                    too_large_reason("deep"),
                    too_large_reason("fast"),
                ),
            ).tolist()
            ids = pc.fill_null(
                batch.column("doc_id").filter(pa.array(bad)), ""
            )
            empty_spans = pa.ListArray.from_arrays(
                pa.array(np.zeros(nbad + 1, np.int32), type=pa.int32()),
                pa.StructArray.from_arrays(
                    [pa.array([], type=pa.string())] * 3
                    + [pa.array([], type=pa.int32()),
                       pa.array([], type=pa.list_(pa.int32()))],
                    names=["kind", "text", "media_ref", "order", "bbox"],
                ),
            )
            zeros32 = pa.array(np.zeros(nbad, np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(["error"] * nbad, type=pa.string()),
                    zeros32,
                    empty_spans,
                    pa.array([""] * nbad, type=pa.string()),
                    zeros32,
                    zeros32,
                    zeros32,
                    pa.array([[]] * nbad, type=pa.list_(pa.int32())),
                    pa.array(np.zeros(nbad, np.int64), type=pa.int64()),
                    pa.array(reasons, type=pa.string()),
                ],
                names=[f.name for f in OUT_SCHEMA.fields],
            )


def fused_map(raw: DataFrame) -> DataFrame:
    """One scan, one Arrow pass, zero shuffles (unless salted
    upstream): the throughput path for the full cascade. n_pages is
    read (one int32 column) so fused validation matches split mode
    exactly — same quarantine set either way."""
    return raw.select("doc_id", "doc_class", "n_pages", "spans").mapInArrow(
        fused_batches, OUT_SCHEMA
    )


def extract(
    spark: SparkSession,
    raw: DataFrame,
    *,
    mode: str = "split",
    persist: bool = False,
    salt: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """documents_raw -> documents_out (FIXTURES.md §2).

    mode="split": DataFrame-level classify-then-split (north-rule
    shape): two filters on the routed frame, one mapInArrow per tier,
    unionByName. With `salt`/`n_partitions` the branches share the
    repartition exchange (ReusedExchange), so the scan still runs
    once; `persist=True` additionally caches the routed frame.

    mode="fused": same routing rule computed Arrow-side inside one
    kernel pass (one scan, no union, errors in-band) — the throughput
    path; bit-identical output on valid docs (tested).
    """
    if mode == "fused":
        src = raw
        if salt:
            src = with_salt(src, salt).repartition(
                n_partitions or spark.sparkContext.defaultParallelism,
                "doc_id",
                "salt",
            ).drop("salt")
        elif n_partitions:
            src = src.repartition(n_partitions, "doc_id")
        return fused_map(src)

    # validation folded into the routing CASE (tier='error') so the
    # split plan has exactly three branches over one shared exchange
    routed = with_tier(raw, spark)
    if salt:
        routed = with_salt(routed, salt)
        routed = routed.repartition(
            n_partitions or spark.sparkContext.defaultParallelism,
            "doc_id",
            "salt",
        ).drop("salt")
    elif n_partitions:
        routed = routed.repartition(n_partitions, "doc_id")
    if persist:
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)

    errors = _error_rows(
        routed.filter(F.col("tier") == "error"), "invalid document"
    )
    fast = tier1_map(routed.filter(F.col("tier") == "fast"))
    deep = tier2_map(routed.filter(F.col("tier") == "deep"))
    return fast.unionByName(deep).unionByName(errors)


def enable_worker_preload() -> None:
    """Put the preload dir on PYTHONPATH so the pyspark worker daemon
    runs its sitecustomize.py once and forked workers inherit it: the
    numpy/pandas/pyarrow imports, and (Python < 3.12) a zipimport that
    re-reads Spark's jar and pyspark.zip only when they changed instead
    of on every task. Must be called BEFORE the SparkSession (JVM) is
    created: the JVM hands its launch PYTHONPATH to the daemon."""
    import os

    pre = os.path.join(os.path.dirname(os.path.abspath(__file__)), "preload")
    cur = os.environ.get("PYTHONPATH", "")
    if pre not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = pre + (os.pathsep + cur if cur else "")
