"""Structured Streaming operators.

A crawl at 10^10 URLs is naturally a stream: fetched archives arrive
continuously and the decode stage should not wait for a round barrier.
This operator is the streaming shape of the batch pipeline:

- ``stream_events_windowed``: watermarked tumbling-window aggregation
  (late data handled by the watermark, not by reprocessing).

Tested with file sources + Trigger.AvailableNow against the batch
equivalents (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_events_windowed(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window per-type aggregation with a watermark bounding
    state for late data."""
    # watermarks require TIMESTAMP (parquet may carry TIMESTAMP_NTZ)
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
