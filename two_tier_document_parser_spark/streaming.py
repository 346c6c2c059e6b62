"""Structured Streaming surface.

The reference is request/response (one HTTP call per document) —
streaming ingest is its natural cluster-scale analogue: documents
land in a table/directory continuously and the same extraction
cascade runs incrementally. The fused mapInArrow kernel is stateless,
so it lifts to readStream unchanged; exactly-once comes from the
file-sink commit log + checkpointLocation instead of our batch
manifest (table_io), and `Trigger.AvailableNow` gives the batch-job
semantics ("process everything present, then stop") used by the
equivalence test.

Windowed event rollups carry watermarks so state is bounded: late
events beyond the watermark are dropped rather than growing state
forever — mandatory at 10^12-event scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import fused_map
from .schemas import RAW_SCHEMA


def read_document_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream over the documents_raw layout (one parquet
    file appearing = one micro-batch unit). maxFilesPerTrigger bounds
    micro-batch size so a backlog burst cannot OOM executors."""
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )


def stream_extract(raw_stream: DataFrame) -> DataFrame:
    """The two-tier cascade on a stream: identical kernel, identical
    output schema; stateless, so no watermark is needed."""
    return fused_map(raw_stream)


def read_binary_document_stream(
    spark: SparkSession, input_path: str
) -> DataFrame:
    """File-source stream over (doc_id, payload binary) — the O1
    bytes-in contract as a stream of TTDP1 containers."""
    return (
        spark.readStream.schema("doc_id string, payload binary")
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )


def stream_extract_binary(bin_stream: DataFrame) -> DataFrame:
    """Byte-level streaming ingest: TTDP1 container decode
    (binary_io.decode_batches) composed with the fused cascade. Both
    stages are stateless mapInArrow, so the streaming plan is the
    batch plan verbatim — decode and extract run in ONE micro-batch
    stage with no shuffle or state store."""
    from .binary_io import decode_table

    return fused_map(decode_table(bin_stream))


def stream_extract_bytes(bin_stream: DataFrame) -> DataFrame:
    """Mixed-format streaming ingest: per-document content sniffing
    (%PDF- / TTDP1 / HTML, ingest.sniff_decode_table) + the fused
    cascade — raw crawl bytes in any supported container land in a
    directory and extract incrementally; junk quarantines in-band.
    Stateless like stream_extract_binary: one micro-batch map stage."""
    from .ingest import sniff_decode_table

    return fused_map(sniff_decode_table(bin_stream))


def run_stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
) -> None:
    """Drain everything currently in input_path through the cascade
    into a parquet sink with exactly-once file-sink semantics, then
    stop (Trigger.AvailableNow). Restart with the same checkpoint to
    resume after failure without reprocessing committed batches."""
    q = (
        stream_extract(read_document_stream(spark, input_path))
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts per event_type with a watermark bounding
    state. Works on both a stream (incremental, late data beyond the
    watermark dropped) and a batch frame (watermark is a no-op) — the
    equivalence the streaming test asserts."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "event_type",
            "n",
        )
    )


def stream_first_seen(docs: DataFrame) -> DataFrame:
    """Custom stateful operator: streaming exact dedup. Keyed state
    per content fingerprint (`fp`); the first document seen for a
    fingerprint is emitted as the keeper, every later arrival —
    including in later micro-batches and after a checkpoint restart —
    is suppressed. This is the streaming form of dedup.exact_dedup:
    state lives in the state store, so the 'seen' set survives
    failures and scales out by key hash, never through the driver.

    Input stream needs (fp: string, doc_id: string) columns; returns
    (fp, doc_id) keeper rows. Update output mode.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def first_seen(key, pdf_iter, state):
        if state.exists:
            for _ in pdf_iter:
                pass
            yield pd.DataFrame(
                {"fp": pd.Series([], dtype=object),
                 "doc_id": pd.Series([], dtype=object)}
            )
            return
        keeper = None
        for pdf in pdf_iter:
            if len(pdf):
                m = pdf["doc_id"].min()
                keeper = m if keeper is None or m < keeper else keeper
        state.update((True,))
        yield pd.DataFrame({"fp": [key[0]], "doc_id": [keeper]})

    return docs.groupBy("fp").applyInPandasWithState(
        first_seen,
        outputStructType="fp string, doc_id string",
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_first_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Drain (doc_id, text) parquet files through fingerprint +
    stream_first_seen, appending keeper rows to `output_dir` via
    foreachBatch (the memory sink cannot recover from a checkpoint;
    foreachBatch can), AvailableNow. Re-running with the same
    checkpoint resumes the state store, so fingerprints already kept
    in an earlier run stay suppressed."""
    from .textstats import fingerprint

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            fingerprint(F.col("text")).alias("fp"),
        )
    )

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.filter(F.col("fp").isNotNull()).write.mode("append").parquet(
            output_dir
        )

    q = (
        stream_first_seen(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(output_dir)


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessions via the built-in `session_window` — the
    streaming-native counterpart of events.sessionize (which is the
    batch window-function formulation; note the boundary nuance: a gap
    of exactly 30 minutes extends a session_window but starts a new
    session in the lag-based form, so the two agree only up to that
    open/closed boundary). State is bounded by the watermark."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("start_epoch"),
            "n_events",
        )
    )


def run_stream_session_counts(
    spark: SparkSession,
    events_path: str,
    query_name: str,
    checkpoint: str,
) -> DataFrame:
    """Drain the events table through session_window aggregation into
    a memory sink (complete mode — session windows support append and
    complete, not update: a late event can merge two sessions, which
    cannot be expressed as a keyed update), AvailableNow."""
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    q = (
        session_window_counts(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_event_counts(
    spark: SparkSession,
    events_path: str,
    query_name: str,
    checkpoint: str,
) -> DataFrame:
    """Stream the events table through the windowed rollup into an
    in-memory sink (complete mode), AvailableNow. Returns the final
    result frame `SELECT * FROM <query_name>`."""
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def merge_agg_batch(
    batch_df: DataFrame,
    batch_id: int,
    agg_dir: str,
    group_col: str,
    value_col: str,
) -> None:
    """One maintenance step, module-level so its replay idempotence is
    directly testable: merge the batch's additive delta into the
    current committed snapshot and commit the result through the
    SAME staging-dir + manifest protocol as the batch sink
    (table_io.ParquetManifestIO.replace — round-3 verdict task #8),
    so batch and streaming maintenance share one commit story. If
    the manifest already names snap_<batch_id> as the committed run,
    the batch was fully applied (crash landed between the manifest
    swap and the streaming commit) and the call is a no-op — without
    this, a replay would merge the batch into its own output (double
    count / self-overwrite).

    agg_dir and the streaming checkpoint are a PAIRED unit: pointing
    a FRESH checkpoint at an existing agg_dir replays old input as
    new batch ids over an aggregate that already contains it. Wipe or
    fork agg_dir whenever the checkpoint is reset."""
    from .curation import group_stats, merge_group_stats
    from .table_io import ParquetManifestIO

    io = ParquetManifestIO(batch_df.sparkSession, agg_dir)
    snap = f"snap_{batch_id}"
    runs = io.committed_runs()
    if runs and runs[-1] == snap:
        return  # replayed batch: already applied
    delta = group_stats(batch_df, group_col, value_col)
    base = io.read() if runs else None
    merged = (
        merge_group_stats(base, delta, group_col)
        if base is not None
        else delta
    )
    io.replace(merged, snap)


def run_stream_agg_maintenance(
    spark: SparkSession,
    input_dir: str,
    agg_dir: str,
    checkpoint: str,
    group_col: str = "lang",
    value_col: str = "n_chars",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming MERGE pattern: maintain a materialized
    (group, n_docs, sum_value) aggregate across micro-batches —
    the continuous form of curation.incremental_agg_update, sharing
    its merge helpers (group_stats/merge_group_stats) so the batch
    and streaming paths cannot diverge. Snapshots store the ADDITIVE
    triple (n_docs, n_vals, sum0); read_maintained_agg finalizes.

    Each foreachBatch merges the batch's delta into the CURRENT
    committed snapshot and commits the result as run `snap_<batch_id>`
    through table_io.ParquetManifestIO.replace — the SAME staging-dir
    + atomic-manifest-swap protocol the batch sink uses, so both
    maintenance paths share one commit story. Exactly-once across
    restarts: if the manifest already names snap_<batch_id>, the
    replayed batch is a no-op (the crash happened after the manifest
    swap but before the streaming commit) — without this guard a
    replay would merge the batch into its own output and
    double-count; if the crash happened before the swap, the
    orphaned staging/run dirs are dead and rebuilt from the
    pre-batch snapshot. The manifest only ever moves after a
    complete write, so readers never see a torn aggregate. Work per
    batch is batch-sized + aggregate-sized — never corpus-sized.

    `agg_dir` must be a driver-visible filesystem path (the manifest
    swap uses os.replace); a production deployment keeps the
    manifest in its table catalog instead. Cross-restart equality
    with a from-scratch recompute is pinned by
    tests/test_new_ops.py."""
    import os
    import re

    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", agg_dir):
        raise ValueError(
            "agg_dir must be a driver-local filesystem path (the "
            "manifest swap uses os.replace); got a URI: " + agg_dir
        )
    os.makedirs(agg_dir, exist_ok=True)
    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
        .select(group_col, value_col)
    )
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_agg_batch(batch_df, batch_id, agg_dir, group_col, value_col)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_maintained_agg(spark, agg_dir)


def read_maintained_agg(spark: SparkSession, agg_dir: str) -> DataFrame:
    """Read the maintained aggregate through its manifest and
    finalize the additive triple to (group, n_docs, sum_value)."""
    from .curation import finalize_group_stats
    from .table_io import ParquetManifestIO

    stored = ParquetManifestIO(spark, agg_dir).read()
    if stored is None:
        raise FileNotFoundError(
            f"no committed snapshot in {agg_dir} (empty manifest)"
        )
    group_col = [
        c for c in stored.columns
        if c not in ("n_docs", "n_vals", "sum0")
    ][0]
    return finalize_group_stats(stored, group_col)


def run_stream_url_frontier(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Streaming crawl-frontier dedup: the streaming form of
    urlnorm.url_dedup. Fetched (doc_id, url) rows land continuously;
    each URL canonicalizes map-side (urlnorm rules, pure JVM
    expressions) and the canonical form keys the SAME
    stream_first_seen stateful operator content dedup uses — the
    first fetch of a canonical URL is the keeper, every later fetch
    (same run, later micro-batch, or after a checkpoint restart) is
    suppressed. State is one boolean per canonical URL in the state
    store: partitioned by key hash, restart-durable, never through
    the driver.

    Emits (fp = canon_url, doc_id) keeper rows appended to
    `output_dir`; AvailableNow trigger (drain everything present,
    then stop)."""
    from .urlnorm import _canon_col

    stream = (
        spark.readStream.schema("doc_id string, url string")
        .parquet(input_dir)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            _canon_col(F.col("url")).alias("fp"),
        )
    )

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.filter(F.col("fp").isNotNull()).write.mode("append").parquet(
            output_dir
        )

    q = (
        stream_first_seen(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(output_dir)


def iceberg_sink_batch(batch_df: DataFrame, batch_id: int, table) -> None:
    """One exactly-once micro-batch commit into an iceberg-lite
    table, module-level so replay idempotence is directly testable
    (the merge_agg_batch precedent). Structured Streaming guarantees
    at-least-once foreachBatch delivery with a MONOTONE batch_id;
    keying the snapshot's run-id on that id turns replays into
    no-ops — if `batch-<id>` already committed, the crash landed
    between the table's hint swap and the streaming checkpoint
    commit, and the batch must not be applied twice. This is exactly
    how the real Iceberg streaming sink de-duplicates replayed
    batches (snapshot summary carries the batch id)."""
    run_id = f"batch-{batch_id}"
    if run_id in table.committed_runs():
        return  # replayed batch: already a committed snapshot
    table.append(batch_df, run_id)


def run_stream_to_iceberg(
    spark: SparkSession,
    input_dir: str,
    table_target: str,
    checkpoint: str,
) -> DataFrame:
    """Streaming extraction INTO the Iceberg table of record: raw
    span rows land continuously, each micro-batch runs the same
    fused cascade as the batch job and commits ONE iceberg-lite
    snapshot keyed by batch id (exactly-once under replay — the
    streaming twin of CheckpointedExtract's resume story, sharing
    the identical snapshot layout). AvailableNow trigger; returns
    the table's current-snapshot read."""
    from .pipeline import extract
    from .table_io import open_table

    table = open_table(spark, table_target)
    stream = read_document_stream(spark, input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = extract(batch_df.sparkSession, batch_df)
        iceberg_sink_batch(out, batch_id, table)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read()
