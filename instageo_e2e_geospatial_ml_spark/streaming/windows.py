"""Structured Streaming operators over the events stream.

The reference has no streaming engine (its job queue is RQ — SURVEY.md
§2.5), but a web-scale ingest pipeline needs one: new observations /
granules arrive continuously and the chip pipeline's upstream aggregations
must tolerate late data. These operators run the same logical plans as
their batch twins under `readStream` (registry query q26):

  * read_event_stream: the events parquet as a file stream;
  * windowed_event_counts: tumbling event-time windows + watermark;
  * run_available_now: drains all currently-available input of a
    windowed aggregation with Trigger.AvailableNow into a memory sink in
    complete mode — the batch-parity path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_event_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(path)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type counts with late-data watermark."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(stream_df: DataFrame, name: str, checkpoint: str) -> DataFrame:
    """Drain all available input (Trigger.AvailableNow) of a streaming
    aggregation into a memory sink; returns the sink table. Complete output
    mode: append would hold back windows newer than the final watermark.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)
