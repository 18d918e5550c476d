"""Structured Streaming wrappers (SURVEY §2.9 T1, T4).

The batch window queries in plans/queries.py use exactly the expressions
Structured Streaming executes incrementally — these wrappers add the streaming
pieces (file source, watermark) around the same logic, which is what makes the
batch-mode DuckDB oracle meaningful for the streaming path. The bench's
``streaming_tumbling_drain`` row runs them.

At cluster scale the file source is an object-store listing (HDFS/S3); state
lives in the checkpointed state store, and watermarks bound its size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import TABLES


def read_events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events rows (micro-batch per file listing).

    ``events_dir`` holds microsecond-timestamp parquet (the test harness
    re-writes the driver's nanos table; Spark's streaming source can't read
    TIMESTAMP(NANOS) either). ``max_files_per_trigger`` caps each
    micro-batch's file intake — watermarks only advance BETWEEN batches, so
    tests that pin eviction timing use it to force a deterministic batch
    sequence."""
    reader = spark.readStream.schema(TABLES["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(events_dir)


def tumbling_counts_stream(
    events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """T1+T4: watermarked tumbling-window aggregation.

    Late rows beyond the watermark are dropped and window state older than it
    is evicted — identical output to the batch `tumbling_window` query once
    all data is ingested (asserted in tests/test_streaming.py).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
