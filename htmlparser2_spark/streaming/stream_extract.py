"""Structured Streaming extraction: incremental parse of new page batches.

The cluster-level analogue of the reference's chunked ``write()/end()``
streaming (SURVEY.md §2.3): new page files appearing under a directory
are discovered incrementally, parsed with the same ``mapInPandas`` pass
as the batch pipeline, and appended to the parsed sink with exactly-once
checkpointing handled by Spark's streaming offsets — pause/resume and
backpressure are native (Parser.ts:805-823 maps to trigger scheduling).

Use ``trigger_available_now=True`` for catch-up-then-stop semantics
(incremental batch over an Iceberg-style landing zone); omit it for a
continuous micro-batch stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.extract_job import parse_pages

__all__ = ["stream_extract", "run_stream_once"]


def stream_extract(
    spark: SparkSession,
    source_dir: str,
    *,
    schema=None,
    max_files_per_trigger: int | None = 16,
) -> DataFrame:
    """Streaming DataFrame of parsed pages from a parquet landing dir."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(source_dir)
    return parse_pages(pages, repartition=False)


def run_stream_once(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Process all currently-available files, then stop (availableNow).

    Restartable: the streaming checkpoint records consumed files, so a
    rerun after new files land parses only the new ones — the
    table-granularity equivalent of the reference's incremental
    ``write(chunk)`` calls.
    """
    parsed = stream_extract(spark, source_dir)
    query = (
        parsed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def windowed_throughput(parsed_stream: DataFrame, *, window: str = "1 minute") -> DataFrame:
    """Per-window ingest metrics with a processing-time watermark —
    the streaming counterpart of partition_metrics."""
    with_ts = parsed_stream.withColumn("proc_ts", F.current_timestamp())
    return (
        with_ts.withWatermark("proc_ts", "2 minutes")
        .groupBy(F.window("proc_ts", window))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("html_bytes").alias("bytes"),
            F.sum("golden_match").alias("matches"),
        )
    )
