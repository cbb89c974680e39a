"""Kafka-shaped ingest replay tests (VERDICT r4 #6): the wire-schema
parse layer is exercised through a file-backed double in both complete
and append (watermark-closed) modes, hash-compared against the batch
twin of the same rollup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.sources import read_table
from clickhouse_forecasting_spark.streaming.kafka_shape import (
    KAFKA_WIRE_SCHEMA,
    events_to_wire,
    parse_events_payload,
)
from clickhouse_forecasting_spark.streaming.rollup import daily_rollup_stream


def _wire_dir(spark, sf_dir, tmp_path, name):
    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / name)
    events_to_wire(events).write.parquet(src)
    return events, src


def test_wire_double_matches_kafka_schema(spark, sf_dir, tmp_path):
    events, src = _wire_dir(spark, sf_dir, tmp_path, "wire_schema")
    wire = spark.read.parquet(src)
    assert wire.schema == KAFKA_WIRE_SCHEMA
    # offsets unique per partition (the broker invariant the double
    # must honor for exactly-once replay semantics)
    dup = (
        wire.groupBy("partition", "offset")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_payload_parse_roundtrips_every_event(spark, sf_dir, tmp_path):
    events, src = _wire_dir(spark, sf_dir, tmp_path, "wire_roundtrip")
    parsed = parse_events_payload(spark.read.parquet(src))
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    got = sorted(map(tuple, parsed.select(*cols).collect()))
    want = sorted(map(tuple, events.select(*cols).collect()))
    assert got == want
    # no malformed payloads in the double
    assert parsed.where(F.col("event_id").isNull()).count() == 0


def test_malformed_payloads_surface_as_nulls(spark):
    import datetime

    raw = spark.createDataFrame(
        [
            (None, b"{not json", "events", 0, 0,
             datetime.datetime(2024, 1, 1), 0),
            (None, b'{"event_id": 7, "ts": "2024-01-01T00:00:00", '
             b'"user_id": 1, "event_type": "click", "value": 1.5, '
             b'"props": "{}"}', "events", 0, 1,
             datetime.datetime(2024, 1, 1), 0),
        ],
        KAFKA_WIRE_SCHEMA,
    )
    parsed = parse_events_payload(raw)
    assert parsed.count() == 2
    assert parsed.where(F.col("event_id").isNull()).count() == 1
    ok = parsed.where(F.col("event_id") == 7).collect()[0]
    assert ok.event_type == "click" and ok.value == 1.5


def test_kafka_shaped_stream_feeds_shared_rollup(spark, sf_dir, tmp_path):
    """The full pipeline: wire files --readStream--> parse -->
    daily_rollup_stream (the SAME plan the parquet/Kafka sources feed)
    replayed with availableNow, complete mode == the batch rollup."""
    events, src = _wire_dir(spark, sf_dir, tmp_path, "wire_rollup")
    rolled = daily_rollup_stream(
        parse_events_payload(spark.readStream.schema(KAFKA_WIRE_SCHEMA).parquet(src))
    )
    q = (
        rolled.writeStream.format("memory")
        .queryName("kafka_rollup_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r.date, r.event_count, round(r.total_value, 6))
        for r in spark.table("kafka_rollup_complete").collect()
    )
    want = sorted(
        (r.date, r.event_count, round(r.total_value, 6))
        for r in daily_rollup_stream(events).collect()
    )
    assert got == want


def test_kafka_shaped_append_mode_emits_closed_days(spark, sf_dir, tmp_path):
    events, src = _wire_dir(spark, sf_dir, tmp_path, "wire_append")
    rolled = daily_rollup_stream(
        parse_events_payload(spark.readStream.schema(KAFKA_WIRE_SCHEMA).parquet(src))
    )
    q = (
        rolled.writeStream.format("memory")
        .queryName("kafka_rollup_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("kafka_rollup_append")
    mx = events.agg(F.max("ts")).collect()[0][0]
    want = daily_rollup_stream(events).where(
        F.date_add(F.col("date"), 1).cast("timestamp")
        <= F.lit(mx) - F.expr("interval 1 day")
    )
    g = sorted((r.date, r.event_count) for r in got.collect())
    w = sorted((r.date, r.event_count) for r in want.collect())
    assert g == w and len(g) > 0
