"""Streaming sliding-window top-k: real Structured Streaming replay
(availableNow) compared against the batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.sources import read_table
from clickhouse_forecasting_spark.streaming import (
    sliding_type_counts,
    topk_per_window,
)
from clickhouse_forecasting_spark.streaming.rollup import EVENTS_SCHEMA


def test_streaming_topk_matches_batch(spark, sf_dir, tmp_path):
    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_topk_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    counts = sliding_type_counts(stream)
    q = (
        counts.writeStream.format("memory")
        .queryName("topk_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"

    drained = spark.table("topk_counts")
    got = sorted(
        tuple(r)
        for r in topk_per_window(drained)
        .select("window_start", "rnk", "event_type", "n")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in topk_per_window(sliding_type_counts(events))
        .select("window_start", "rnk", "event_type", "n")
        .collect()
    )
    assert got == want
    # every event lands in exactly window/slide = 2 windows
    assert drained.agg(F.sum("n")).collect()[0][0] == 2 * events.count()


def test_streaming_topk_watermark_bounds_state(spark, sf_dir, tmp_path):
    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_topk_wm")
    events.write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    counts = sliding_type_counts(stream, watermark="2 hours")
    # append mode (the production sink mode) requires the watermark —
    # building the query must succeed, proving the stateful stage is
    # append-capable with bounded state
    q = (
        counts.writeStream.format("memory")
        .queryName("topk_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    emitted = spark.table("topk_append")
    # append emits only watermark-closed windows: a subset of all windows
    all_windows = sliding_type_counts(events).select(
        "window_start").distinct().count()
    closed = emitted.select("window_start").distinct().count()
    assert 0 < closed <= all_windows


def test_replay_closed_counts_state_parts_invariant(
    spark, sf_dir, monkeypatch
):
    """r11: the closed-counts replay pins the stream's shuffle width to
    the watermark-bounded state scale (SPARK_GRAFT_STREAM_STATE_PARTS,
    default 8) — the partition count must not change WHAT is emitted,
    and the session-wide setting must be restored for batch plans."""
    # parts execute into the queries package namespace (pinned by
    # test_registry_consistency::test_no_direct_part_module_imports)
    from clickhouse_forecasting_spark import queries as _q

    _replay_closed_counts = _q._replay_closed_counts

    before = spark.conf.get("spark.sql.shuffle.partitions")
    base = {
        (r.window_start, r.event_type): r.n
        for r in _replay_closed_counts(spark, sf_dir).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    spark.catalog.dropTempView("closed_counts_replay")

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "3")
    alt = {
        (r.window_start, r.event_type): r.n
        for r in _replay_closed_counts(spark, sf_dir).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    spark.catalog.dropTempView("closed_counts_replay")

    assert base and alt == base
