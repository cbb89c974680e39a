from .dedup_stream import dedup_stream
from .join import attribution_join
from .rollup import (
    daily_rollup_stream,
    enrich_with_static_dim,
    stream_upsert_daily,
)
from .topk import sliding_type_counts, topk_per_window

__all__ = [
    "attribution_join",
    "daily_rollup_stream",
    "dedup_stream",
    "enrich_with_static_dim",
    "sliding_type_counts",
    "stream_upsert_daily",
    "topk_per_window",
]
