"""Large-corpus soak (round-4 task #7): ONE end-to-end run of the
production chain — fused extraction cascade -> text reassembly ->
curate (exact + LSH near-dup + quality + lang gate) -> image-text
example export — on a multi-million-doc synthetic interleaved corpus,
with the memory evidence the 100x-scale claims were missing:

- peak RSS of the whole job process tree (parent samples /proc at
  0.5 s cadence; java VmHWM read at exit as the sampling backstop),
- per-stage wall + row counts,
- spill totals parsed from the Spark event log (memory/disk bytes
  spilled summed over every task — "zero spill-to-death" is a claim
  about these numbers, not vibes).

The child runs with a DELIBERATELY bounded driver heap (default 24g
on a 128 GiB box): the point is to show the plan's memory footprint
is set by batch sizing (session_tuning's 256-row columnar batches,
SURVEY §7.7.5), not by corpus size.

Run: python jobs/soak.py [n_docs]      (default 5_000_000)
Writes BENCH/soak.json and prints the same JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

EVENTLOG_DIR = "/tmp/ttdp_soak_eventlog"


# ---------------------------------------------------------------------------
# parent side: corpus, RSS sampler, event-log spill accounting
# ---------------------------------------------------------------------------


def materialize(n_docs: int) -> str:
    corpus = f"/tmp/ttdp_soak_{n_docs}"
    if not (Path(corpus) / "_SUCCESS").exists():
        from pyspark.sql import SparkSession

        from two_tier_document_parser_spark.pipeline import (
            enable_worker_preload,
            session_tuning,
        )
        from two_tier_document_parser_spark.synth import synth_spark

        enable_worker_preload()
        spark = session_tuning(
            SparkSession.builder.master("local[32]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "24g")
        ).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        synth_spark(spark, n_docs, partitions=512).write.mode(
            "overwrite"
        ).parquet(corpus)
        spark.stop()
    return corpus


def _tree_rss_kb(root_pid: int) -> int:
    """Sum VmRSS over root_pid and every descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ppid = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssSampler(threading.Thread):
    def __init__(self, pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.pid = pid
        self.period = period
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()

    def run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.pid))
            self.samples += 1
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()


def spill_totals(eventlog_dir: str) -> dict:
    """Sum spill/GC metrics over every SparkListenerTaskEnd in the
    event log — the authoritative per-task accounting, no UI needed."""
    mem = disk = shuffle_write = tasks = 0
    peak_exec = 0
    for path in sorted(Path(eventlog_dir).rglob("*")):
        if path.is_dir() or path.name.startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                m = ev.get("Task Metrics") or {}
                tasks += 1
                mem += m.get("Memory Bytes Spilled", 0)
                disk += m.get("Disk Bytes Spilled", 0)
                peak_exec = max(
                    peak_exec, m.get("Peak Execution Memory", 0)
                )
                shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return {
        "tasks": tasks,
        "memory_bytes_spilled": mem,
        "disk_bytes_spilled": disk,
        "shuffle_bytes_written": shuffle_write,
        "peak_execution_memory_bytes": peak_exec,
    }


# ---------------------------------------------------------------------------
# child side: the actual chained job
# ---------------------------------------------------------------------------


def child(corpus: str, out_dir: str, cores: int, driver_mem: str) -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.curation import curate
    from two_tier_document_parser_spark.multimodal import media_text_pairs
    from two_tier_document_parser_spark.pipeline import (
        enable_worker_preload,
        extract,
        session_tuning,
        ship_package,
    )

    enable_worker_preload()
    os.makedirs(EVENTLOG_DIR, exist_ok=True)
    spark = session_tuning(
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{EVENTLOG_DIR}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        # long iterative jobs on a big mostly-idle heap never GC, so
        # the ContextCleaner never reaps dead shuffle files; the
        # component loops free their own checkpoints deterministically
        # and force a reap per large round, this bounds everything else
        .config("spark.cleaner.periodicGC.interval", "5min")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    stages: dict[str, dict] = {}

    def timed(name: str, fn):
        t0 = time.monotonic()
        val = fn()
        stages[name] = {"wall_sec": round(time.monotonic() - t0, 2)}
        return val

    # stage 1: fused two-tier cascade, written once (the soak's
    # downstream stages re-read the parquet instead of re-running the
    # cascade per consumer — same discipline as production)
    docs_out = f"{out_dir}/documents_out"
    timed(
        "extract",
        lambda: extract(spark, spark.read.parquet(corpus))
        .write.mode("overwrite")
        .parquet(docs_out),
    )
    out = spark.read.parquet(docs_out)
    stages["extract"]["rows"] = out.count()

    # stage 2a: reassemble text (span concat in reading order — arrays
    # are already ordered, no window needed) and materialize it ONCE:
    # curate scans its input several times (fingerprint, minhash,
    # token stats, lang), and re-running the array reassembly per scan
    # measured ~2x the whole curate wall at 50k docs
    text_path = f"{out_dir}/text_docs"
    timed(
        "reassemble_text",
        lambda: out.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter(F.col("spans"), lambda s: s["text"] != ""),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text"),
        )
        .write.mode("overwrite")
        .parquet(text_path),
    )

    # stage 2b: the keep/drop decision chain
    decisions_path = f"{out_dir}/curation"
    timed(
        "curate",
        lambda: curate(spark.read.parquet(text_path))
        .write.mode("overwrite")
        .parquet(decisions_path),
    )
    decisions = spark.read.parquet(decisions_path)
    reason_counts = {
        (r["reason"] or "keep"): r["n"]
        for r in decisions.groupBy("reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    stages["curate"]["kept"] = reason_counts.get("keep", 0)
    stages["curate"]["dropped"] = sum(
        n for k, n in reason_counts.items() if k != "keep"
    )
    stages["curate"]["reasons"] = reason_counts

    # stage 3: the interleaved end product — image-text examples for
    # the KEPT documents only (broadcast-joined keep set would be
    # wrong at scale: the keep set is O(corpus), so it shuffles)
    kept = decisions.filter(F.col("keep")).select("doc_id")
    kept_out = out.join(kept, "doc_id")
    pairs_path = f"{out_dir}/pairs"
    timed(
        "export",
        lambda: media_text_pairs(kept_out.localCheckpoint())
        .write.mode("overwrite")
        .parquet(pairs_path),
    )
    stages["export"]["rows"] = spark.read.parquet(pairs_path).count()

    java_hwm_kb = 0
    try:
        with open("/proc/self/status") as fh:  # python side, for context
            for ln in fh:
                if ln.startswith("VmHWM"):
                    java_hwm_kb = int(ln.split()[1])
    except OSError:
        pass

    print(json.dumps({"stages": stages, "py_driver_hwm_kb": java_hwm_kb}))
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_docs", nargs="?", type=int, default=5_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--driver-mem", default="24g")
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--corpus")
    ap.add_argument("--out")
    args = ap.parse_args()

    if args.child:
        return child(args.corpus, args.out, args.cores, args.driver_mem)

    corpus = materialize(args.n_docs)
    out_dir = "/tmp/ttdp_soak_out"
    subprocess.run(["rm", "-rf", out_dir, EVENTLOG_DIR], check=False)

    t0 = time.monotonic()
    proc = subprocess.Popen(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--child",
            "--corpus",
            corpus,
            "--out",
            out_dir,
            "--cores",
            str(args.cores),
            "--driver-mem",
            args.driver_mem,
        ],
        stdout=subprocess.PIPE,
        text=True,
        cwd=str(REPO),
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    stdout, _ = proc.communicate()
    sampler.stop()
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        print(f"child failed rc={proc.returncode}", file=sys.stderr)
        return proc.returncode

    child_out = json.loads(stdout.strip().splitlines()[-1])
    result = {
        "n_docs": args.n_docs,
        "cores": args.cores,
        "driver_mem": args.driver_mem,
        "wall_sec": round(wall, 1),
        "docs_per_sec_end_to_end": round(args.n_docs / wall, 1),
        "peak_tree_rss_gb": round(sampler.peak_kb / 1024 / 1024, 2),
        "rss_samples": sampler.samples,
        "stages": child_out["stages"],
        "spill": spill_totals(EVENTLOG_DIR),
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
    }
    (REPO / "BENCH").mkdir(exist_ok=True)
    (REPO / "BENCH" / "soak.json").write_text(json.dumps(result, indent=2))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
