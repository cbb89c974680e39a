"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (SURVEY §7.4 / BASELINE.json streaming surface).

The batch twin (queries.q_sessionization) computes sessions with a lag()
window; a stream can't — session state must live across micro-batches.
Per-user state here is (n_sessions, n_events, last_ts): a new session
starts when the gap to the previous event exceeds ``gap_seconds``.

Scale notes: state is partitioned by user_id across the cluster (one
shuffle), each entry is 3 scalars — billions of users fit; Arrow batches
carry events grouped per user into the Python worker. ``ttl_seconds``
expires idle users' state so the store tracks the ACTIVE population, not
the all-time one. Expiry is EVENT-time (EventTimeTimeout): a user's state
dies when the stream's watermark passes last_event_ts + ttl. Event-time
TTL is the replayable choice — a backfill at 10000x real-time speed expires
exactly the same users at exactly the same points as the live run would
(processing-time TTL would expire almost nothing during a fast replay, and
busy-loops under availableNow triggers). None keeps NoTimeout, under which
replays carry all state to the end for the batch-parity test.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_sessions long, n_events long"
STATE_SCHEMA = "n_sessions long, n_events long, last_ts double"
# a gap of more than 30 minutes between a user's events opens a new session
GAP_SECONDS = 1800


def sessionize_stream(events: DataFrame, ttl_seconds: int | None = None) -> DataFrame:
    """Per-user running session counts over a stream of (user_id, ts, ...).

    Emits one row per user per micro-batch with the updated totals
    (update output mode). Events inside a micro-batch are processed in
    event-time order; across batches, arrival order is trusted (the
    standard low-latency trade — reorder with a watermark upstream if
    needed). With ``ttl_seconds``, a user idle (in event time) for that
    long has their state dropped when the watermark passes
    last_event_ts + ttl; their counts restart if they return — the
    bounded-state trade every long-running sessionizer makes.
    """
    if ttl_seconds is not None:
        events = events.withWatermark("ts", "1 second")

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if ttl_seconds is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            n_sessions, n_events, last_ts = state.get
        else:
            n_sessions, n_events, last_ts = 0, 0, None
        # a user's micro-batch may span several Arrow chunks; event-time
        # order must hold ACROSS chunks, so concatenate before sorting
        chunks = [pdf["ts"] for pdf in pdfs]
        all_ts = pd.concat(chunks) if chunks else pd.Series([], dtype="datetime64[ns]")
        for ts in all_ts.sort_values():
            t = ts.timestamp()
            if last_ts is None or t - last_ts > GAP_SECONDS:
                n_sessions += 1
            n_events += 1
            last_ts = t
        state.update((n_sessions, n_events, last_ts))
        if ttl_seconds is not None and last_ts is not None:
            # expiry must sit past the current watermark or Spark rejects it
            expiry_ms = int(last_ts * 1000) + ttl_seconds * 1000
            state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if ttl_seconds is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
