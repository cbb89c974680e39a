import datetime as dt

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from clickhouse_forecasting_spark import relational as R


def _daily(spark, n=10, start=dt.date(2024, 1, 1)):
    rows = [
        Row(date=start + dt.timedelta(days=i), a=float(i), b=float(2 * i)) for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_unpivot_roundtrip_pivot(spark):
    # property: pivot(unpivot(wide)) == wide (SURVEY §5.2 property test)
    df = _daily(spark, n=6)
    long_df = R.unpivot_metrics(df, ["a", "b"])
    assert long_df.columns == ["ds", "metric", "y"]
    assert long_df.count() == 12
    back = (
        long_df.groupBy("ds").pivot("metric", ["a", "b"]).agg(F.first("y"))
        .withColumnRenamed("ds", "date")
    )
    orig = {(r.date, r.a, r.b) for r in df.collect()}
    got = {(r.date, r.a, r.b) for r in back.collect()}
    assert orig == got


# a dot, a space, a single quote, a backtick and a backslash in names
_ODD_NAMES = ["a.b", "c d", "it's", "x`y", "back\\slash"]


def _odd_wide(spark, n=40):
    rows = [
        (dt.date(2024, 1, 1) + dt.timedelta(days=i), *[float(i * (j + 1) + j) for j in range(5)])
        for i in range(n)
    ]
    schema = "date date, " + ", ".join(f"m{j} double" for j in range(5))
    plain = spark.createDataFrame(rows, schema)
    odd = plain.toDF("date", *_ODD_NAMES)
    return plain, odd


def test_unpivot_pivot_roundtrip_with_names_that_need_quoting(spark):
    plain, odd = _odd_wide(spark, n=6)
    long_df = R.unpivot_metrics(odd, _ODD_NAMES)
    assert sorted({r.metric for r in long_df.collect()}) == sorted(_ODD_NAMES)
    wide = R.pivot_forecasts_wide(
        long_df.select("ds", "metric", *[F.col("y").alias(c) for c in ("yhat", "yhat_lower", "yhat_upper")]),
        _ODD_NAMES,
    )
    assert wide.columns == R.sink_column_order(_ODD_NAMES)
    got = sorted(tuple(r)[: 1 + len(_ODD_NAMES)] for r in wide.collect())
    assert got == sorted(tuple(r) for r in plain.collect())
    shuffled = wide.selectExpr(*reversed([R.sql_ident(c) for c in wide.columns]))
    assert R.ordered_for_sink(shuffled, _ODD_NAMES).columns == wide.columns


def test_transform_with_names_that_need_quoting_matches_plain_names(spark):
    from clickhouse_forecasting_spark.forecast import SeriesForecaster

    plain, odd = _odd_wide(spark)
    fc = SeriesForecaster(interval=4, backend="fourier_ridge")
    want = sorted(tuple(r) for r in fc.transform(plain).collect())
    got = fc.transform(odd)
    assert got.columns == R.sink_column_order(_ODD_NAMES)
    assert sorted(tuple(r) for r in got.collect()) == want
    assert len(want) == 40 + 4


def test_pivot_rejects_duplicated_ds_metric_by_name(spark):
    long_df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), "a", 1.0), (dt.date(2024, 1, 1), "a", 2.0)],
        "ds date, metric string, yhat double",
    ).select("ds", "metric", "yhat", F.col("yhat").alias("yhat_lower"), F.col("yhat").alias("yhat_upper"))
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        R.pivot_forecasts_wide(long_df, ["a"]).collect()


def test_pivot_plans_one_aggregation(spark):
    df = _daily(spark, n=4)
    long_df = R.unpivot_metrics(df, ["a", "b"]).select(
        "ds", "metric", *[F.col("y").alias(c) for c in ("yhat", "yhat_lower", "yhat_upper")]
    )
    qe = R.pivot_forecasts_wide(long_df, ["a", "b"])._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("Aggregate [") == 1
    assert qe.executedPlan().toString().count("Exchange ") == 1
    assert "Expand" not in qe.optimizedPlan().toString()


def test_future_date_axis(spark):
    df = _daily(spark, n=5)
    axis = R.future_date_axis(df, periods=3)
    got = sorted(r.ds for r in axis.collect())
    assert got[0] == dt.date(2024, 1, 1)
    assert got[-1] == dt.date(2024, 1, 8)  # 5 history + 3 future
    assert len(got) == 8


def test_only_future_strictness(spark):
    df = _daily(spark, n=5).withColumnRenamed("date", "ds")
    out = R.only_future(df, dt.date(2024, 1, 3))
    assert sorted(r.ds for r in out.collect()) == [dt.date(2024, 1, 4), dt.date(2024, 1, 5)]


def test_outer_join_null_fill(spark):
    # R11/R12: the reference's k-way full outer join keeps all dates and
    # leaves gaps NULL; the pivot does the same in one aggregation
    long_df = spark.createDataFrame(
        [
            (dt.date(2024, 1, 1), "a", 1.0),
            (dt.date(2024, 1, 2), "a", 2.0),
            (dt.date(2024, 1, 2), "b", 20.0),
            (dt.date(2024, 1, 3), "b", 30.0),
        ],
        "ds date, metric string, yhat double",
    ).select("ds", "metric", "yhat", F.col("yhat").alias("yhat_lower"), F.col("yhat").alias("yhat_upper"))
    out = {r.date: (r.a, r.b) for r in R.pivot_forecasts_wide(long_df, ["a", "b"]).collect()}
    assert out[dt.date(2024, 1, 1)] == (1.0, None)
    assert out[dt.date(2024, 1, 2)] == (2.0, 20.0)
    assert out[dt.date(2024, 1, 3)] == (None, 30.0)


def test_sink_column_order(spark):
    # R13: date, all cols, all _min, all _max (forecast_script.py:204)
    assert R.sink_column_order(["x", "y"]) == ["date", "x", "y", "x_min", "y_min", "x_max", "y_max"]


def test_gap_fill_interpolate(spark):
    df = spark.createDataFrame(
        [
            Row(date=dt.date(2024, 1, 1), v=10.0),
            Row(date=dt.date(2024, 1, 4), v=40.0),  # gap: Jan 2, 3
            Row(date=dt.date(2024, 1, 5), v=None),  # observed NULL also fills
            Row(date=dt.date(2024, 1, 6), v=60.0),
        ]
    )
    out = {r.date: r.v for r in R.gap_fill(df, ["v"]).collect()}
    assert out[dt.date(2024, 1, 2)] == pytest.approx(20.0)
    assert out[dt.date(2024, 1, 3)] == pytest.approx(30.0)
    assert out[dt.date(2024, 1, 5)] == pytest.approx(50.0)
    assert out[dt.date(2024, 1, 1)] == 10.0 and out[dt.date(2024, 1, 6)] == 60.0
    # the spine spans min(date)..max(date): no synthetic dates outside it
    assert min(out) == dt.date(2024, 1, 1) and max(out) == dt.date(2024, 1, 6)
