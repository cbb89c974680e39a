"""Streaming deduplication over the events stream (BASELINE.json dedup
extension, streaming tier).

Batch dedup (functions/dedup.py) sees the whole corpus; a stream cannot —
dedup state must persist across micro-batches yet stay bounded.
``dedup_stream`` is pure DataFrame (no Python in the hot path):
``dropDuplicatesWithinWatermark`` keeps the first arrival of each key and
suppresses re-deliveries that arrive within the event-time watermark. State
for keys older than the watermark is dropped, so state size is bounded by
(keys/interval x watermark), not stream lifetime — the
at-least-once-source -> effectively-once-sink repair idiom at 100 TB/day.
Plain ``dropDuplicates`` would be exact forever, but its state grows with
the distinct keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """First-arrival-wins streaming dedup with watermark-bounded state."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )
