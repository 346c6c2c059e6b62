"""Pluggable table layer: Iceberg when available, parquet+manifest
fallback (SURVEY §7.6).

The north rule targets Iceberg tables; this sandbox has no
iceberg-spark-runtime jar, so `IcebergIO` activates only when the
catalog is configured and otherwise `ParquetManifestIO` emulates the
property the pipeline actually relies on — atomic, all-or-nothing
commits — with a staging-directory write + manifest append:

    <table>/runs/<run_id>/...parquet   (data, written to staging first)
    <table>/_manifest.json             (list of committed run_ids)

A run is visible iff its id is in the manifest; the manifest is
replaced atomically (write tmp + os.replace), so readers never see a
half-written run — the same contract as an Iceberg snapshot commit.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    # NOTE: a bare `spark._jvm.org.apache...` attribute probe is NOT a
    # valid check — py4j silently returns a JavaPackage for unknown
    # names. Class.forName actually loads (or fails to load) the class.
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.Snapshot"
        )
        return True
    except Exception:
        return False


class IcebergIO:
    """Real Iceberg path: snapshot-atomic appends, resume from the
    last committed snapshot. Requires iceberg-spark-runtime on the
    classpath and a configured catalog."""

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.spark = spark
        self.table = table

    def append(self, df: DataFrame, run_id: str) -> None:
        df.writeTo(self.table).append()

    def read(self) -> DataFrame:
        return self.spark.read.format("iceberg").load(self.table)

    def committed_runs(self) -> list[str]:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots"
        ).collect()
        return [str(r[0]) for r in rows]


class ParquetManifestIO:
    """Parquet emulation of snapshot commits."""

    def __init__(self, spark: SparkSession, table_path: str) -> None:
        self.spark = spark
        self.path = table_path
        os.makedirs(table_path, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def committed_runs(self) -> list[str]:
        if not os.path.exists(self._manifest):
            return []
        return json.loads(open(self._manifest).read())["runs"]

    def append(self, df: DataFrame, run_id: str | None = None) -> str:
        run_id = run_id or uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, f"_staging_{run_id}")
        final = os.path.join(self.path, "runs", run_id)
        df.write.mode("overwrite").parquet(staging)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.replace(staging, final)  # atomic on one filesystem
        runs = self.committed_runs() + [run_id]
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"runs": runs}, f)
        os.replace(tmp, self._manifest)  # atomic commit point
        return run_id

    def replace(self, df: DataFrame, run_id: str) -> str:
        """Snapshot-REPLACE commit: the new run supersedes every
        prior run (similarity.quantize_at_ingest). Same commit point
        as append() — the atomic manifest swap — so readers never
        observe a torn or half-superseded table. Crash windows:
        before the data move, a retry overwrites the staging dir;
        between move and manifest swap, the orphaned final dir is
        dead by definition and is rebuilt."""
        staging = os.path.join(self.path, f"_staging_{run_id}")
        final = os.path.join(self.path, "runs", run_id)
        df.write.mode("overwrite").parquet(staging)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(staging, final)  # atomic on one filesystem
        tmp = self._manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"runs": [run_id]}, f)
        os.replace(tmp, self._manifest)  # atomic commit point
        runs_dir = os.path.join(self.path, "runs")
        for name in os.listdir(runs_dir):  # superseded = garbage
            if name != run_id:
                shutil.rmtree(
                    os.path.join(runs_dir, name), ignore_errors=True
                )
        return run_id

    def read(self) -> DataFrame | None:
        runs = self.committed_runs()
        if not runs:
            return None
        paths = [os.path.join(self.path, "runs", r) for r in runs]
        return self.spark.read.parquet(*paths)

    def read_run(self, run_id: str) -> DataFrame:
        """DataFrame over one committed run's files only."""
        return self.spark.read.parquet(
            os.path.join(self.path, "runs", run_id)
        )

    def drop_uncommitted(self) -> None:
        """Crash cleanup: staging dirs not in the manifest are dead."""
        for name in os.listdir(self.path):
            if name.startswith("_staging_"):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)


def open_table(spark: SparkSession, target: str):
    """`iceberg:<catalog.table>` -> IcebergIO (if runtime present),
    `iceberg-lite:<path>[?partition=<col>]` -> the from-scratch
    spec-shaped v2 layout (iceberg_lite.IcebergLiteIO — no jar
    needed), anything else -> ParquetManifestIO on that path."""
    if target.startswith("iceberg-lite:"):
        from .iceberg_lite import IcebergLiteIO

        rest = target[len("iceberg-lite:"):]
        path, _, query = rest.partition("?")
        part = None
        if query.startswith("partition="):
            part = query[len("partition="):]
        return IcebergLiteIO(spark, path, partition_by=part)
    if target.startswith("iceberg:"):
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg-spark-runtime not on the classpath; use an "
                "iceberg-lite:<path> target for the from-scratch v2 "
                "layout, or a bare path for the parquet+manifest "
                "fallback"
            )
        return IcebergIO(spark, target[len("iceberg:"):])
    return ParquetManifestIO(spark, target)


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    path: str,
    buckets: int,
    key: str,
) -> DataFrame:
    """Persist `df` as a Spark-native bucketed+sorted parquet table
    (external, at `path`) and return it re-opened from the catalog.

    This is the co-located-join primitive for repeatedly-joined 100 TB
    tables: two tables bucketed by the same key into the same bucket
    count join with NO Exchange — the scan's output partitioning
    already satisfies the join's distribution requirement. The
    `repartition(buckets, key)` before the write matters: bucket
    assignment is the same murmur3-hash-mod Spark uses for
    HashPartitioning, so each task receives exactly one bucket and
    writes exactly ONE file per bucket. With
    `spark.sql.legacy.bucketedTableScan.outputOrdering=true` the
    reader then also trusts the per-bucket sortBy order and elides
    the Sort nodes (Spark 3+ ignores bucket-file ordering by default,
    SPARK-28199; multi-file buckets would force a re-sort either way
    — still no shuffle). Plan shape for both regimes is pinned by
    tests/test_scale_machinery.py."""
    from pyspark.sql import functions as F

    (
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )
    return spark.table(name)

