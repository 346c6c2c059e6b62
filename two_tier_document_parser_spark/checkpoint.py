"""Checkpointed, resumable extraction runs (SURVEY §4.3.5, O17-O19).

Every run commits its output atomically (table_io) and appends
per-partition lineage rows (run_id, partition_id, doc_id range,
counts, wall) to a `_lineage` side table. Resume = left-anti join of
the input against the doc_ids already present in committed runs —
restart after a kill reprocesses only the remainder, and re-running a
completed job is a no-op (tested by the kill-and-resume test).

Scale note — range-pruned resume: a full anti-join on exact doc_ids
is correct at any scale but shuffles the committed-id set (10^12 ids
at full scale). The lineage (doc_id_min, doc_id_max) ranges prune
that: input docs OUTSIDE every committed range cannot possibly be
committed (each committed doc lies inside its partition's range), so
they skip the join entirely via a cheap range predicate that pushes
into the parquet scan; only docs INSIDE some range anti-join against
the committed-id set. `pending()` builds that plan; it falls back to
the full anti-join whenever lineage does not cover every committed
run (e.g. a kill landed between the data commit and the lineage
commit), so pruning is an optimization, never a correctness risk.
"""

from __future__ import annotations

import time
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract
from .table_io import ParquetManifestIO


MAX_RANGE_TERMS = 64


def merge_ranges(
    ranges: list[tuple[str, str]], max_terms: int = MAX_RANGE_TERMS
) -> list[tuple[str, str]]:
    """Coalesce overlapping/touching [lo, hi] string intervals
    (lexicographic order — doc ids are fixed-width, so this equals
    numeric order for the d%09d scheme and stays correct for any id
    scheme because Spark's min/max use the same collation).

    The result is capped at `max_terms` intervals: each interval
    becomes one BETWEEN term of the pruning predicate, and an
    unbounded OR chain (10^12-doc tables accumulate many runs x many
    partitions of lineage) would blow up the Catalyst expression
    tree. Coarsening bridges the narrowest gaps first — SOUND, not
    just safe: a widened interval only moves more rows onto the
    exact anti-join side, never off it."""
    out: list[tuple[str, str]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1]:
            if hi > out[-1][1]:
                out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    while len(out) > max_terms:
        # bridge the lexicographically-narrowest gap (string prefix
        # length as the proxy for gap width: exact arithmetic doesn't
        # exist for arbitrary string ids, and ANY bridge is sound)
        import os

        gaps = [
            (len(os.path.commonprefix([out[i][1], out[i + 1][0]])), i)
            for i in range(len(out) - 1)
        ]
        # longest common prefix == closest strings == narrowest gap
        _, i = max(gaps)
        out[i : i + 2] = [(out[i][0], out[i + 1][1])]
    return out


def _range_pred(ranges: list[tuple[str, str]]) -> Column:
    return reduce(
        lambda a, b: a | b,
        [F.col("doc_id").between(lo, hi) for lo, hi in ranges],
    )


def lineage_rows(out: DataFrame, run_id: str, wall_ms: int) -> DataFrame:
    """One lineage row per partition of the (written) output."""
    return (
        out.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("spans")).cast("long").alias("n_spans"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        .withColumn("attempt", F.lit(1).cast("int"))
        .withColumn("committed_at", F.current_timestamp())
    )


class CheckpointedExtract:
    def __init__(self, spark: SparkSession, out_path: str) -> None:
        """`out_path` may be a bare path (parquet+manifest snapshots)
        or an `iceberg-lite:<path>` target — then the data sink is
        the from-scratch Iceberg v2 layout and "resume from the last
        committed snapshot" means exactly that: committed_doc_ids
        resolves the current snapshot's manifest tree. Lineage stays
        a parquet+manifest side table either way (it is metrics, not
        the table of record)."""
        self.spark = spark
        if out_path.startswith("iceberg-lite:"):
            from .table_io import open_table

            self.data = open_table(spark, out_path)
            lineage_path = out_path[len("iceberg-lite:"):].partition("?")[0]
            self.lineage = ParquetManifestIO(
                spark, lineage_path + "_lineage"
            )
        else:
            self.data = ParquetManifestIO(spark, out_path)
            self.lineage = ParquetManifestIO(spark, out_path + "_lineage")

    def committed_doc_ids(self) -> DataFrame | None:
        done = self.data.read()
        return done.select("doc_id") if done is not None else None

    def committed_ranges(self) -> list[tuple[str, str]] | None:
        """Merged (doc_id_min, doc_id_max) intervals of the committed
        runs, or None when lineage does not cover every committed data
        run (then only the exact anti-join is safe)."""
        lineage = self.lineage.read()
        if lineage is None:
            return None
        data_runs = set(self.data.committed_runs())
        rows = lineage.select("run_id", "doc_id_min", "doc_id_max").collect()
        # coverage = lineage MANIFEST commits, not just lineage rows:
        # a resumed run that found nothing to do commits zero lineage
        # rows but is still fully accounted for — counting only rows
        # would disable range pruning forever after any no-op re-run
        covered = {r["run_id"] for r in rows} | set(
            self.lineage.committed_runs()
        )
        if not data_runs <= covered:
            return None
        ranges = [
            (r["doc_id_min"], r["doc_id_max"])
            for r in rows
            if r["run_id"] in data_runs and r["doc_id_min"] is not None
        ]
        return merge_ranges(ranges) if ranges else None

    def pending(self, raw: DataFrame) -> DataFrame:
        """Input rows not yet committed. Range-pruned: rows outside
        every committed (min, max) interval bypass the anti-join via a
        pushdown-able range predicate; only rows inside an interval
        shuffle into the exact anti-join."""
        done = self.committed_doc_ids()
        if done is None:
            return raw
        ranges = self.committed_ranges()
        if not ranges:
            return raw.join(done, "doc_id", "left_anti")
        pred = _range_pred(ranges)
        # null doc_ids can never match a committed range: keep them on
        # the no-join path so they still reach the quarantine channel
        outside = raw.filter(F.col("doc_id").isNull() | ~pred)
        inside = raw.filter(pred).join(done, "doc_id", "left_anti")
        return outside.unionByName(inside)

    def run(self, raw: DataFrame, **extract_kw) -> str:
        """Extract everything not yet committed; returns run_id."""
        self.data.drop_uncommitted()
        t0 = time.time()
        todo = self.pending(raw)
        run_id = uuid.uuid4().hex[:12]
        out = extract(self.spark, todo, **extract_kw)
        self.data.append(out, run_id)
        written = self.data.read_run(run_id)
        wall_ms = int((time.time() - t0) * 1000)
        self.lineage.append(lineage_rows(written, run_id, wall_ms), run_id)
        return run_id

    def result(self) -> DataFrame | None:
        return self.data.read()

    def metrics(self) -> DataFrame | None:
        return self.lineage.read()
