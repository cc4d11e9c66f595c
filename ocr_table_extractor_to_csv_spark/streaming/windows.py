"""Event-time windowed aggregation with a watermark (brief: "watermarks +
windowed aggs for late data").

Tumbling event-time windows over the events stream: per (window, event_type)
counts and value sums.  The watermark bounds state: windows older than
``max(event_time) - watermark`` are finalized and emitted (append mode), and
events arriving later than the watermark for an already-closed window are
DROPPED — the standard late-data contract.  With ``availableNow`` triggers
this runs as incremental batch: each invocation processes newly-arrived
files, emits newly-finalized windows, and carries open-window state in the
checkpoint.

Scale notes: a streaming groupBy(window, type) shuffles partial aggregates
only (map-side combine), and state is one row per open (window, type) —
bounded by the watermark horizon, not the stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW = "1 hour"
WATERMARK = "30 minutes"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    # watermarks require TIMESTAMP (tz-aware); parquet event tables often
    # carry TIMESTAMP_NTZ — cast via the session timezone
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
