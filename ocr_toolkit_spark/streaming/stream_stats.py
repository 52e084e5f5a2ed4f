"""Event-time windowed aggregation over the driver `events` table shape.

The reference is strictly batch (SURVEY.md §2.6). `windowed_event_counts` is
the batch twin of a streaming event-time rollup: tumbling 10-minute windows
per event_type, which the `event_windows` entry query (`__spark_entry__.py`)
runs over the events table. There is no streaming sink for it; the
streaming legs are streaming/stream_extract.py and streaming/stream_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW = "10 minutes"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling event-time window counts and value sums per event_type."""
    return (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
