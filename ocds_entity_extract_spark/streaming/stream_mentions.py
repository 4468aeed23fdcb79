"""Structured Streaming surface for the mention pipeline.

The reference is a pure batch job (SURVEY.md §2.10 — no stream semantics
anywhere; its resumable analogue is streaming/incremental.py). This module
additionally exposes the NARROW stages of the KG pipeline (the fused
text-extraction + span pandas UDF, normalization and classification) as a
streaming transformation, so a pages stream (file source here;
Kafka/Iceberg CDC at cluster scale) yields per-window mention counts with
late-data handling:

    pages readStream -> detect_mentions (detect_spans_fused, Arrow UDF) ->
    withWatermark(warc_ts) -> groupBy(window, entity_type) -> count

Everything before the aggregation is stateless/narrow — the batch plan's
extractor (`build_triples` runs the same `detect_spans_fused`), so batch
and streaming can never drift. The aggregation is the only stateful operator;
the watermark bounds its state so it survives unbounded streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocds_entity_extract_spark.functions.classify import with_entity_type
from ocds_entity_extract_spark.operators.mentions import detect_mentions
from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

WINDOW, WATERMARK = "1 hour", "2 hours"   # `windowed_mention_counts`


def stream_pages(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of pages parquet (schema = input_hint shape)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_path)


def streaming_mentions(pages_stream: DataFrame) -> DataFrame:
    """Stateless streaming mention rows — the same narrow plan as batch."""
    return with_entity_type(detect_mentions(pages_stream))


def windowed_mention_counts(pages_stream: DataFrame) -> DataFrame:
    """Watermarked `WINDOW` tumbling-window mention counts per entity type.

    The watermark caps aggregation state: windows older than
    (max event time - `WATERMARK`) are finalized and dropped, which is what
    makes the aggregation safe on an unbounded page stream.
    """
    m = streaming_mentions(pages_stream)
    return (
        m.withWatermark("warc_ts", WATERMARK)
        .groupBy(F.window("warc_ts", WINDOW).alias("win"), "entity_type")
        .agg(F.count(F.lit(1)).alias("mention_count"))
        .select(
            F.col("win.start").alias("window_start"),
            "entity_type",
            "mention_count",
        )
    )


def run_to_memory_available_now(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drain all currently-available input into an in-memory table
    (trigger=availableNow), then stop — the batch-like harness used by
    tests; swap sink/trigger for a continuous deployment."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
