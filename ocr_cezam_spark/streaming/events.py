"""Structured Streaming operators.

The reference is a pure batch pipeline (SURVEY.md section 1.3), so no
operator *requires* streaming; this module provides the streaming form of
the engine's aggregations for incremental ingest — new WARC dumps / event
feeds — using the standard readStream -> watermark -> window -> writeStream
shape. Tested with a file source + availableNow trigger (bounded replay),
which is exactly how a backfill over an Iceberg snapshot would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812


def read_events_stream(spark: SparkSession, path: str, schema: str,
                       max_files: int = 4) -> DataFrame:
    """A parquet file stream with a fixed schema, at most ``max_files``
    new files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files))
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark."""
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    stream_df: DataFrame, checkpoint: str, out_path: str
) -> None:
    """Drain everything currently available, then stop (backfill mode)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
