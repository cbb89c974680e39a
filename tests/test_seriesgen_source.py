"""The custom Python DataSource (seriesgen) behind spark.read.format().

Covers the source contract: schema, partition-parallel scan, determinism
(two reads are identical), option handling, and end-to-end compatibility
with the forecaster (a custom source is a first-class table).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.sources import seriesgen


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    seriesgen.register(spark)


def _load(spark, **opts):
    r = spark.read.format("seriesgen")
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_shape_and_schema(spark):
    df = _load(spark, days=30, series=3)
    assert [f.name for f in df.schema.fields] == ["date", "series_id", "y"]
    assert df.count() == 90
    per = {r.series_id: r.n for r in df.groupBy("series_id").agg(F.count("*").alias("n")).collect()}
    assert per == {0: 30, 1: 30, 2: 30}


def test_deterministic_across_reads(spark):
    a = _load(spark, days=45, series=2).collect()
    b = _load(spark, days=45, series=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_partitioned_scan_parallelism(spark):
    df = _load(spark, days=10, series=5)
    # one InputPartition per series -> 5 scan partitions
    assert df.rdd.getNumPartitions() == 5
    # and each partition holds exactly one series (no cross-talk)
    counts = df.withColumn("pid", F.spark_partition_id()).groupBy("pid").agg(
        F.countDistinct("series_id").alias("k")
    ).collect()
    assert all(r.k == 1 for r in counts)


def test_weekly_seasonality_present(spark):
    df = _load(spark, days=140, series=1, amplitude=25.0)
    dow = (
        df.groupBy(F.weekday("date").alias("d"))
        .agg(F.avg("y").alias("m"))
        .collect()
    )
    ms = {r.d: r.m for r in dow}
    # amplitude 25 dominates trend/noise: the seasonal spread must show
    assert max(ms.values()) - min(ms.values()) > 20.0


def test_feeds_the_forecaster(spark):
    from clickhouse_forecasting_spark.forecast import SeriesForecaster

    df = _load(spark, days=120, series=2).withColumnRenamed("y", "metric")
    wide = df.groupBy("date").pivot("series_id", ["0", "1"]).agg(F.first("metric"))
    fc = SeriesForecaster(interval=7, only_future=True).transform(
        wide.select(F.col("date"), F.col("0").alias("s0"), F.col("1").alias("s1"))
    )
    rows = fc.collect()
    assert len(rows) == 7
    for r in rows:
        assert r.s0_min <= r.s0 <= r.s0_max
