"""Footer-read table schemas (catalog.read_parquet) against Spark's own
inference: every reader of a table must see exactly the schema
``spark.read.parquet`` infers, without the job that inference submits."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from clickhouse_forecasting_spark import sources
from clickhouse_forecasting_spark.catalog import ParquetCatalog, read_parquet
from clickhouse_forecasting_spark.pipeline import run_forecast_pipeline


def _assert_reads_like_spark(spark, cat: ParquetCatalog, table: str) -> None:
    path = cat.path(table)
    inferred = spark.read.parquet(path)
    got = cat.table(table)
    assert got.schema == inferred.schema, table
    assert sorted(got.collect()) == sorted(inferred.collect()), table


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "parquet schema read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixture_tables_match_inference(spark, sf_dir, monkeypatch):
    cat = ParquetCatalog(spark, sf_dir)
    footer = {t: (cat.table(t).schema, sources.read_table(spark, sf_dir, t).schema)
              for t in cat.list_tables()}
    assert len(footer) == 10
    # read_table normalizes timestamps on top of the read: compare it with
    # the same normalization over Spark's own inference
    monkeypatch.setattr(sources, "read_parquet", lambda s, p: s.read.parquet(p))
    for t, (table_schema, source_schema) in footer.items():
        assert table_schema == spark.read.parquet(cat.path(t)).schema, t
        assert source_schema == sources.read_table(spark, sf_dir, t).schema, t


def test_spark_written_forecast_table_matches_inference(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    cat.write_table(
        spark.createDataFrame(
            [(dt.date(2024, 1, 1) + dt.timedelta(days=d), float(d), d) for d in range(30)],
            "date date, visits double, n int",
        ),
        "daily",
    )
    assert run_forecast_pipeline(cat, interval=3, backend="fourier_ridge").successful == ["daily"]
    assert os.path.isdir(cat.path("bucket_forecast_daily"))
    _assert_reads_like_spark(spark, cat, "bucket_forecast_daily")


def test_multi_file_and_zero_row_tables_match_inference(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path))
    two = tmp_path / "two.parquet"
    two.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"k": pa.array([i, i + 10], pa.int64()), "s": ["a", None]}),
            str(two / f"part-{i}.parquet"),
        )
    (two / "_SUCCESS").touch()
    _assert_reads_like_spark(spark, cat, "two")

    cat.write_table(spark.range(100).repartition(3), "spark_multi", order_by=None)
    assert len([f for f in os.listdir(cat.path("spark_multi")) if f.endswith(".parquet")]) > 1
    _assert_reads_like_spark(spark, cat, "spark_multi")

    cat.write_table(spark.createDataFrame([], "date date, m double"), "empty_spark", order_by=None)
    _assert_reads_like_spark(spark, cat, "empty_spark")
    pq.write_table(
        pa.table({"date": pa.array([], pa.date32()), "m": pa.array([], pa.float64())}),
        cat.path("empty_arrow"),
    )
    _assert_reads_like_spark(spark, cat, "empty_arrow")


def test_nanosecond_timestamps_match_inference(spark, tmp_path):
    """int64 nanos read as LongType under ``nanosAsLong``, and naive
    microsecond timestamps as TIMESTAMP_NTZ — the two cases a plain
    pyarrow-to-Spark schema conversion gets wrong."""
    ts = pd.to_datetime(["2024-01-01 00:00:00.123456", "1969-12-31 23:59:59.5"])
    cat = ParquetCatalog(spark, str(tmp_path))
    pq.write_table(
        pa.table({"ns": pa.array(ts, pa.timestamp("ns")), "us": pa.array(ts, pa.timestamp("us"))}),
        cat.path("events"),
    )
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    schema = cat.table("events").schema
    assert isinstance(schema["ns"].dataType, T.LongType)
    assert isinstance(schema["us"].dataType, T.TimestampNTZType)
    _assert_reads_like_spark(spark, cat, "events")


def test_read_submits_no_job(spark, sf_dir):
    path = os.path.join(sf_dir, "orders.parquet")
    assert _jobs(spark, "schema-inferred", lambda: spark.read.parquet(path)) == 1
    assert _jobs(spark, "schema-footer", lambda: read_parquet(spark, path)) == 0


@pytest.mark.parametrize(
    "name, condition",
    [("missing.parquet", "PATH_NOT_FOUND"), ("empty.parquet", "UNABLE_TO_INFER_SCHEMA")],
)
def test_unreadable_paths_raise_like_spark(spark, tmp_path, name, condition):
    (tmp_path / "empty.parquet").mkdir()
    (tmp_path / "empty.parquet" / "_SUCCESS").touch()
    path = str(tmp_path / name)
    for read in (spark.read.parquet, lambda p: read_parquet(spark, p)):
        with pytest.raises(AnalysisException) as err:
            read(path)
        assert err.value.getCondition() == condition
