"""Structured Streaming rollups over the events stream (SURVEY §7.4).

The reference is batch-only; this is the streaming-capable extension the
``events`` fixture motivates: a tumbling daily window aggregation with a
watermark for late data, producing exactly the forecast-shaped daily series
(date, event_count, total_value) the forecaster consumes. Batch and stream
share one logical definition — the same groupBy(window(...)) plan — so the
forecast pipeline can run over either without code changes.

Scale notes: windowed aggregation state is partitioned by (window, keys) and
bounded by the watermark (state for windows older than the watermark is
dropped); at 100 TB/day the shuffle carries only partial aggregates
(map-side combine), and the sink is an append-mode parquet/Delta table
partitioned by date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def daily_rollup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day window aggregation with late-data watermark.

    Works identically on a batch frame (window() is the same expression) —
    used that way in the oracle-checked batch query; in streaming mode the
    watermark bounds state and an append sink emits each day once final."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "event_count",
            "total_value",
        )
    )


def enrich_with_static_dim(
    stream: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension, re-read per batch so slowly-changing dims pick up
    updates without restarting the query. The static side is explicitly
    broadcast — stream-side state stays empty (stream-static joins are
    stateless), so this costs a map-side hash probe per batch, never a
    stateful shuffle. The 100 TB/day enrichment pattern: facts stream,
    dims broadcast."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def stream_upsert_daily(
    spark: SparkSession,
    src_path: str,
    sink_path: str,
    checkpoint: str,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
):
    """Streaming daily rollup written through foreachBatch as a MERGE-style
    upsert into date-partitioned parquet.

    Update-mode windowed aggregation re-emits a day whenever late data
    changes it; the upsert sink (sources.upsert_partitioned) replaces just
    that day's partition, so replays and retries are idempotent — the
    parquet-only equivalent of exactly-once delivery to a MERGE-capable
    sink. Returns the started StreamingQuery (trigger availableNow:
    drains the backlog, then stops)."""
    from ..sources.formats import path_exists, upsert_partitioned

    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    rolled = daily_rollup_stream(reader.parquet(src_path), watermark)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # bootstrap: the first batch creates the partitioned sink; later
        # batches MERGE into it (replaying a batch is then idempotent)
        if not path_exists(spark, sink_path):
            batch.write.partitionBy("date").parquet(sink_path)
            return
        upsert_partitioned(
            spark, batch, sink_path, keys=["date"], partition_col="date"
        )

    return (
        rolled.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
