"""The two Spark workloads: spans_batch and bytes_batch on `local[2]`.

spans_batch: `pipeline.extract(spark, raw, mode="fused")` over a span
table, aggregated to count(*) and sum(size(spans)), nothing written.
bytes_batch: `ingest.sniff_decode_table` over a (doc_id, payload)
table, the fused cascade, and a parquet write of documents_out.

Each timed pass reads its own directory of never-seen documents. A
document's latency is the wall time of the pass it is in: its result
exists only once the pass has ended. Spark
SQL metrics are read per pass from the SparkSession's SQL status store (the
executed plan's metrics as the UI shows them), which also covers the
write command that has no DataFrame handle.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
import zipfile
from collections import Counter
from pathlib import Path

from perfbench import check, layers, procs, stats, trace

SLOTS = 2

# SQL metric display name (as the status store keeps it) -> our key
_SQL_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_received",
    "scan time": "scan_ms",
    "task commit time": "write_ms",
    "job commit time": "write_ms",
}
_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE_RE = re.compile(r"\s*([\d.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """A status-store metric string ("12 ms", "1.4 s", "3.2 MiB",
    "1,000", or a "total (min, med, max ...)" block) -> its total in ms,
    bytes or plain count."""
    line = text.rsplit("\n", 1)[-1]
    num, unit = _VALUE_RE.match(line).groups()
    return float(num.replace(",", "")) * _UNITS[unit]


class SqlMetrics:
    """Reads the SQL metrics of executions finished since the last read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._last = self._ids()[-1] if self._ids() else -1

    def _ids(self) -> list[int]:
        ex = self._store.executionsList()
        return sorted(ex.apply(i).executionId() for i in range(ex.size()))

    def read(self) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        out: Counter = Counter()
        new = [i for i in self._ids() if i > self._last]
        for eid in new:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _SQL_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        if new:
            self._last = new[-1]
        return dict(out)


def _ship_perfbench(spark, work: Path) -> None:
    """Ship this directory to the Python workers (traced shims and the
    output digests of the correctness check)."""
    src = Path(__file__).resolve().parent
    zpath = work / "perfbench.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in sorted(src.glob("*.py")):
            zf.write(f, f"perfbench/{f.name}")
    spark.sparkContext.addPyFile(str(zpath))


def start_session(work: Path):
    from pyspark.sql import SparkSession

    from two_tier_document_parser_spark.pipeline import (
        enable_worker_preload,
        session_tuning,
        ship_package,
    )

    tmp = work / "tmp"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp files
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)  # wins over spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    enable_worker_preload()
    spark = session_tuning(
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(SLOTS))
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", java_opts)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    _ship_perfbench(spark, work)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procs.wait_gone()


def _spans_pass(spark, paths: list[str]) -> tuple[int, int]:
    """-> (documents out, spans out) of the aggregated pass."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.pipeline import extract

    out = extract(spark, spark.read.parquet(*paths), mode="fused")
    row = out.select(F.count(F.lit(1)).alias("n"),
                     F.sum(F.size("spans")).alias("s")).collect()[0]
    return row["n"], row["s"] or 0


def _bytes_pass(spark, paths: list[str], out_dir: str) -> None:
    from two_tier_document_parser_spark.ingest import sniff_decode_table
    from two_tier_document_parser_spark.pipeline import extract

    raw = sniff_decode_table(spark.read.parquet(*paths))
    extract(spark, raw, mode="fused").write.mode("overwrite").parquet(out_dir)


def _check_rows(out_df, checker: check.Checker) -> None:
    """Digest every documents_out row in the Python workers and compare
    the digests with the oracle's in this process."""
    rows = out_df.mapInArrow(check.digest_batches,
                             "doc_id string, digest string").collect()
    for r in rows:
        checker.add(r["doc_id"], json.loads(r["digest"]))


def run(workload: str, manifest: dict, trace_on: bool, work: Path,
        pre_setup_s: float) -> dict:
    """Run one Spark workload; returns metrics, ops and probe readings."""
    entry = Path(manifest["dir"])
    units = manifest["units"]
    unit_path = {u["name"]: [str(entry / p) for p in u["parts"]] for u in units}
    is_bytes = workload == "bytes_batch"

    def one_pass(name: str, dump_dir: str | None):
        with (trace.traced_plan(dump_dir) if dump_dir
              else contextlib.nullcontext()):
            if is_bytes:
                return _bytes_pass(spark, unit_path[name],
                                   str(work / "out" / name))
            return _spans_pass(spark, unit_path[name])

    t_setup = time.time()
    spark = start_session(work)
    try:
        sql = SqlMetrics(spark)
        one_pass("warmup", None)
        warm_sql = sql.read()
        setup_s = pre_setup_s + time.time() - t_setup

        passes, probe_ms = [], []
        for i, u in enumerate(units[1:]):
            # outside the timed region: settle the JVM heap left by the
            # previous pass, then read the probe
            spark._jvm.System.gc()
            probe_ms.append(stats.py_loop_ms())
            dump = (str(work / "trace" / u["name"])
                    if trace_on and trace.traced_unit(i) else None)
            t0 = time.perf_counter()
            got = one_pass(u["name"], dump)
            wall = time.perf_counter() - t0
            p = {"name": u["name"], "docs": len(u["ids"]), "wall_s": wall,
                 "sql": sql.read(), "dump": dump, "got": got,
                 "want": (len(u["ids"]), u["out_spans"]), "ids": u["ids"]}
            passes.append(p)
        rss = [procs.vm_hwm_mb(pid) for pid in procs.pyspark_worker_pids()]
        if not rss:
            raise RuntimeError("no PySpark Python worker processes found")
        membw = stats.membw_gbps()

        # correctness, outside the timed region: the bytes passes wrote
        # their documents_out; the spans passes only aggregated, so their
        # documents are extracted once more
        t_check = time.time()
        if is_bytes:
            out = spark.read.parquet(*[str(work / "out" / p["name"])
                                       for p in passes])
        else:
            from two_tier_document_parser_spark.pipeline import extract

            out = extract(spark, spark.read.parquet(
                *[f for p in passes for f in unit_path[p["name"]]]),
                mode="fused")
        checker = check.Checker(manifest["expected"])
        _check_rows(out, checker)
        check_s = time.time() - t_check
    finally:
        stop_session(spark)

    # the spans passes' own aggregates: (documents, spans) as the oracle
    # predicts them, or every document of the pass fails
    for p in passes:
        if p["got"] is not None and tuple(p["got"]) != p["want"]:
            for doc_id in p["ids"]:
                checker.fail(doc_id, f"pass (docs, spans) {tuple(p['got'])} "
                                     f"!= {p['want']}")
    attempted, failed, failures = checker.finish()
    rates = [p["docs"] / p["wall_s"] for p in passes]
    result = {
        "attempted": attempted, "failed": failed, "failures": failures,
        "probe": {"py_loop_ms": probe_ms, "membw_gbps": membw},
        "passes": [{"docs": p["docs"], "wall_s": p["wall_s"],
                    "traced": p["dump"] is not None} for p in passes],
        "check_s": check_s,
    }
    if not trace_on:
        # a batch document's result exists once its pass has ended, so
        # its latency is its pass's wall time: one sample per document
        latencies = [p["wall_s"] for p in passes for _ in range(p["docs"])]
        result["latency_samples"] = len(latencies)
        result["metrics"] = {
            "docs_per_s": statistics.median(rates),
            "latency_p50_ms": stats.percentile(latencies, 50) * 1e3,
            "latency_p99_ms": stats.percentile(latencies, 99) * 1e3,
            "setup_s": setup_s,
            "peak_rss_mb": max(rss),
        }
        return result

    untraced = [p for p in passes if p["dump"] is None]
    traced = [p for p in passes if p["dump"] is not None]
    all_spans, all_counts = [], Counter()
    for p in traced:
        spans, counts = trace.load_dumps(p["dump"])
        p["kernel_s"] = layers.kernel_seconds(spans)
        trace.extend(all_spans, spans)
        all_counts.update(counts)
    values = layers.span_metrics(all_spans, all_counts)
    values.update(layers.spark_metrics(warm_sql, untraced, traced, SLOTS))
    values.update(layers.trace_overhead(
        [p["docs"] / p["wall_s"] for p in untraced],
        [p["docs"] / p["wall_s"] for p in traced]))
    result["metrics"] = values
    return result
