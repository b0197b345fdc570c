"""Event-stream batch operators.

``sessionize_batch`` expresses gap-based sessions as window functions,
which puts the sessionization contract under the DuckDB oracle gate.

Scale notes: both windows partition by ``user_id`` — a hash shuffle on
the key, never a global sort; the per-user event sequence is the unit
of work, which is exactly how session data distributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_start, session_end, n_events, total_value):
    gap-based sessions — a new session starts when the inter-event gap
    exceeds ``gap_minutes``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60

    def _epoch(c):
        # TIMESTAMP_NTZ has no direct long cast; any fixed zone works —
        # only DIFFERENCES are compared, so the zone offset cancels
        return F.to_utc_timestamp(c.cast("timestamp"), "UTC").cast("long")

    with_flag = events.withColumn("_prev", F.lag("ts").over(w)).withColumn(
        "_new",
        (
            F.col("_prev").isNull()
            | ((_epoch(F.col("ts")) - _epoch(F.col("_prev"))) > gap_s)
        ).cast("int"),
    )
    with_sid = with_flag.withColumn("_sid", F.sum("_new").over(w))
    return (
        with_sid.groupBy("user_id", "_sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
    )
