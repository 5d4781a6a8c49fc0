"""Event-time tumbling-window aggregation behind the ``windowed_agg``
driver query.

One declarative expression: a hash aggregation on (window, key) with a
map-side partial aggregate before one shuffle, no Python stage. Window
boundaries are epoch-aligned, so DuckDB's ``time_bucket`` oracle agrees
with Spark's ``window()`` (session timezone pinned UTC in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_aggregate(events: DataFrame) -> DataFrame:
    """10-minute tumbling-window (win_start, event_type) → (n_events,
    sum_value) aggregation over the events table's ts and value."""
    return (
        events.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
