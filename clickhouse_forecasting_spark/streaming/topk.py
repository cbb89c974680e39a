"""Streaming sliding-window top-k: trending event types.

The streaming half is a watermarked sliding-window count — the ONLY
stateful stage, with state bounded by |windows in watermark| × |types|.
Ranking (top-k) is NOT a streaming-supported operation (no window
functions over streaming aggregates), so it runs downstream of the
stateful stage: in production inside ``foreachBatch`` on each closed
window (append mode), in tests on the drained complete-mode result.
That split — heavy unbounded counting in the engine's state store,
cheap bounded ranking per emitted window — is the shape that survives
100 TB/day streams.

Batch twin: queries.py ``streaming_window_topk`` runs the identical
window()/rank expressions over the same parquet and is hash-gated
against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sliding_type_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked sliding-window counts per event_type: 6-hour windows
    sliding by 3 hours.

    Works on both streaming and batch frames (the batch twin simply
    skips the watermark), emitting (window_start, window_end,
    event_type, n).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def topk_per_window(counts: DataFrame) -> DataFrame:
    """Rank the (already closed/drained) window counts to top-3 rows per
    window — count desc, event_type as the total-order tie-break."""
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "window_start",
            "window_end",
            F.col("rnk").cast("bigint").alias("rnk"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
        )
    )
