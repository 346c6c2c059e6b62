"""End-to-end extraction job graph (SURVEY §3.4).

    scan -> [salt + repartition]               [skew defeat, optional]
         -> fused mapInArrow, per Arrow batch:
              route + validate (routing.route_batch)
              -> tier1 kernel | tier2 kernel
              -> quarantine_rows                [in-band, never throw]
         -> one output table

Design notes for 100 TB:
- on a span table the only JVM->Python hop is the one fused
  mapInArrow (Arrow batches; a `sniff_decode_table` input adds its
  own); routing runs inside it on the batch it already holds, so
  there is no separate routing pass, no per-tier filter and no union;
- `salt` folds pmod(xxhash64(doc_id), S) into the repartition so giant
  documents from one producer spread across tasks (SURVEY §4.3.1);
- Arrow batch size is capped (ARROW_BATCH) so a batch of giant docs
  cannot blow the Python worker heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import spark_schema

ARROW_BATCH = 256


def ship_package(spark: SparkSession) -> str:
    """Ship this package to executors (the programmatic equivalent of
    `spark-submit --py-files engine.zip`). Required whenever the
    driver's CWD is not the repo root — Python workers import the
    tier UDF modules by name. The zip's temp directory is removed when
    the interpreter exits."""
    import atexit
    import os
    import shutil
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_ttdp_shipped", False):
        return ""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    tmp = tempfile.mkdtemp(prefix="ttdp_pyfiles_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    zpath = os.path.join(tmp, f"{pkg_name}.zip")
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


# NOTE: the O2 validation/quarantine rule (reference 400/413
# semantics, fast/app.py:61-73) has one executable copy,
# routing.route. fused_batches and the facade (api._route_one) both
# call it, so the entry paths cannot quarantine different documents;
# keep it that way.


def with_salt(df: DataFrame, salt: int) -> DataFrame:
    return df.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt)))


def quarantine_rows(batch, tier, reason):
    """The documents of a documents_raw batch that routing.route sent
    to tier 'error', as documents_out rows (one batch, or none): no
    spans, the routing reason in `error`, a null doc_id as ''."""
    import pyarrow as pa

    from .schemas import DocOut, out_batch

    bad = tier == "error"
    if not bad.any():
        return
    ids = batch.column("doc_id").filter(pa.array(bad)).to_pylist()
    yield out_batch(
        [d or "" for d in ids],
        [DocOut("error", error=r) for r in reason[bad].tolist()],
        0,
    )


def fused_batches(batches):
    """Single-pass kernel: route, validate, and extract inside one
    Arrow pass. Routing is routing.route over counts taken with Arrow
    C++ kernels; JVM higher-order functions over nested arrays
    allocate per-row ArrayData and at 16-32 concurrent tasks the JVM
    allocation rate becomes a GC bottleneck (measured: a JVM
    routing-only pass inverts 3.5s@4 -> 12.6s@32 threads). Quarantined
    docs (invalid or over their tier's cap) become tier='error' rows
    here — no separate quarantine scan."""
    import pyarrow as pa

    from .routing import route_batch
    from .schemas import rebatch_by_spans
    from .tier1 import tier1_batches
    from .tier2 import tier2_batches

    for batch in rebatch_by_spans(batches):
        tier, reason = route_batch(batch)
        sub = batch.select(["doc_id", "spans"])
        for name, kernel in (("fast", tier1_batches), ("deep", tier2_batches)):
            mask = tier == name
            if mask.any():
                yield from kernel(iter([sub.filter(pa.array(mask))]))
        yield from quarantine_rows(batch, tier, reason)


def fused_map(raw: DataFrame) -> DataFrame:
    """One scan, one Arrow pass, zero shuffles (unless salted
    upstream): the throughput path for the full cascade. n_pages is
    read (one int32 column) for the n_pages < 1 quarantine."""
    return raw.select("doc_id", "doc_class", "n_pages", "spans").mapInArrow(
        fused_batches, spark_schema("documents_out")
    )


def extract(
    spark: SparkSession,
    raw: DataFrame,
    *,
    mode: str = "fused",
    salt: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """documents_raw -> documents_out (FIXTURES.md §2): routing,
    validation and both tiers inside one fused kernel pass (one scan,
    no union, errors in-band). With `salt` the input is repartitioned
    on (doc_id, salt) first; with only `n_partitions`, on doc_id.
    `mode` accepts only "fused", the one extract path."""
    if mode != "fused":
        raise ValueError(f"mode must be 'fused', got {mode!r}")
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
