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


def windowed_event_aggregate(
    events: DataFrame,
    window_len: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window (window_start, key) → (count, sum) aggregation."""
    return (
        events.groupBy(F.window(ts_col, window_len).alias("win"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )
