"""Watermarked windowed aggregation over a document/event stream.

Engine extension (the reference is batch-only): operational telemetry for a
continuously-fed extraction pipeline — per-window document counts by format
and status, tolerant of late arrivals up to the watermark. The pattern is
the standard Structured Streaming shape: event-time watermark → tumbling
window groupBy → append-mode sink; state is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def windowed_event_counts(
    stream: DataFrame,
    *,
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Streaming tumbling-window counts with late-data tolerance over an
    ``events(ts, event_type, value)`` stream: events and summed
    ``value`` per (window, event_type)."""
    # Watermarks require TIMESTAMP (session-TZ); parquet NTZ columns are
    # reinterpreted in the session TZ (pinned to UTC in session.py).
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def start_memory_sink(agg: DataFrame, name: str) -> StreamingQuery:
    """Test/demo sink ONLY: complete-mode in-memory table. Complete mode
    retains every window's state and the full result table — the
    watermark does NOT evict state here, so never use this sink on an
    unbounded production stream; the bounded-state claim in the module
    docstring holds for an append-mode sink (e.g.
    ``writeStream.outputMode("append").format("parquet")``)."""
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
