"""Structured Streaming extraction + windowed event aggregation.

The reference is batch-with-resume (SURVEY.md §2.9); the streaming
module gives the same pipelines continuous semantics:

- ``stream_extraction``: readStream over a docs directory → pass 2 of
  ``extraction.extract`` (the same mapInArrow kernel as the batch job;
  mapInArrow runs unchanged on streaming DataFrames) → writeStream with
  exactly-once file sink + checkpointLocation. The repeated-heading set
  must be precomputed (from a batch pass or a curated list) — a
  streaming-global distinct aggregate would need its own stateful query.
- ``stream_event_counts``: watermarked tumbling-window aggregation over
  the events table shape (ts, event_type, value) — late data handled by
  the watermark, state bounded.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from barks_ocr_spark.operators import extraction
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    repeating: frozenset[str],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of extracted spans from a parquet docs dir."""
    reader = spark.readStream.schema(DOCUMENTS_SPANS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return extraction.extract(reader.parquet(input_dir), repeating=repeating)


def run_stream_to_parquet(
    stream: DataFrame, output_dir: str, checkpoint_dir: str
) -> None:
    """Drain all available input exactly-once into a parquet sink."""
    (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


_MEMORY_SINK_IDS = itertools.count(1)


def run_stream_to_memory(stream: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain all available input into a memory sink and return the
    sink's table. Each call gets a fresh ``<name>_<n>`` query name, so
    a table returned earlier keeps its own sink."""
    table = f"{name}_{next(_MEMORY_SINK_IDS)}"
    (
        stream.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream.sparkSession.table(table)


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    glob: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late-data safe).

    ``glob``: optional pathGlobFilter — the file streaming source needs a
    *directory* basePath, so a single table file inside a multi-table dir
    is selected with e.g. ``glob="events.parquet"``."""
    reader = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    events = reader.parquet(input_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
