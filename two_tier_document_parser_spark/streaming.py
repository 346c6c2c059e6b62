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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .pipeline import fused_map
from .schemas import spark_schema


def read_document_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream over the documents_raw layout (one parquet
    file appearing = one micro-batch unit). maxFilesPerTrigger bounds
    micro-batch size so a backlog burst cannot OOM executors."""
    return (
        spark.readStream.schema(spark_schema("documents_raw"))
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )


def stream_extract(raw_stream: DataFrame) -> DataFrame:
    """The two-tier cascade on a stream: identical kernel, identical
    output schema; stateless, so no watermark is needed."""
    return fused_map(raw_stream)


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

