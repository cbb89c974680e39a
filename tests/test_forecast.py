import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from clickhouse_forecasting_spark.forecast import SeriesForecaster
from clickhouse_forecasting_spark.forecast.model import (
    AdditiveForecastModel,
    fit_predict_frame,
    make_future_axis,
)


def _series(n=120, start="2024-01-01"):
    ds = pd.date_range(start, periods=n, freq="D")
    t = np.arange(n, dtype=float)
    y = 10 + 0.5 * t + 3 * np.sin(2 * np.pi * t / 7)
    return pd.DataFrame({"ds": ds, "y": y})


def test_model_learns_trend_and_seasonality():
    df = _series()
    model = AdditiveForecastModel().fit(df)
    pred = model.predict(df[["ds"]])
    rmse = float(np.sqrt(np.mean((pred["yhat"].to_numpy() - df["y"].to_numpy()) ** 2)))
    assert rmse < 0.5  # near-perfect on a noiseless additive series


def test_interval_invariant_lower_leq_yhat_leq_upper():
    out = fit_predict_frame(_series(), periods=14)
    assert (out["yhat_lower"] <= out["yhat"] + 1e-9).all()
    assert (out["yhat"] <= out["yhat_upper"] + 1e-9).all()


def test_make_future_axis_semantics():
    # Prophet make_future_dataframe parity: history dates + N daily steps
    df = _series(n=10)
    axis = make_future_axis(df["ds"], periods=5)
    assert len(axis) == 15
    assert axis["ds"].iloc[-1] == pd.Timestamp("2024-01-15")


def test_only_future_returns_exactly_interval_rows():
    out = fit_predict_frame(_series(n=30), periods=7, only_future=True)
    assert len(out) == 7
    assert out["ds"].min() == pd.Timestamp("2024-01-31")


def test_determinism():
    a = fit_predict_frame(_series(), periods=7, backend="fourier_ridge")
    b = fit_predict_frame(_series(), periods=7, backend="fourier_ridge")
    pd.testing.assert_frame_equal(a, b)


def test_single_point_series_raises():
    with pytest.raises(ValueError):
        AdditiveForecastModel().fit(pd.DataFrame({"ds": [pd.Timestamp("2024-01-01")], "y": [1.0]}))


def test_batched_matches_per_series_bit_for_bit():
    """The partition-level batched fitter (r9: shared design matrix /
    future axis per date-axis bucket) must emit EXACTLY the bytes of the
    per-series fit_predict_frame path — not allclose: bit equality, so
    the rows-only registry hashes cannot move. The mix covers: two
    distinct axis buckets, a NaN-gapped series (lands in its own bucket),
    a >370-day series (yearly Fourier terms on), a constant series, a
    single-point series (fails alone), an all-NaN series, and an
    inf-poisoned series (fallback path, fails alone — M4)."""
    from clickhouse_forecasting_spark.forecast.model import batched_fit_predict_long

    rng = np.random.RandomState(7)
    parts = []

    def add(metric, n, start, y):
        ds = pd.date_range(start, periods=n, freq="D")
        parts.append(pd.DataFrame({"metric": metric, "ds": ds, "y": y}))

    for i in range(6):  # bucket 1: shared 40-day axis
        add(f"a{i}", 40, "2024-01-01", rng.randn(40) * 10 + 50 * i)
    for i in range(4):  # bucket 2: shared 30-day axis, different start
        add(f"b{i}", 30, "2023-06-01", rng.randn(30) + i)
    gap = rng.randn(40) * 5
    gap[7] = np.nan
    gap[22] = np.nan
    add("gapped", 40, "2024-01-01", gap)  # own bucket (axis differs)
    add("yearly", 400, "2022-01-01", 5 + 0.1 * np.arange(400.0))
    add("const", 20, "2024-03-01", np.full(20, 42.0))
    add("single", 1, "2024-01-01", [3.0])  # <2 obs: no rows
    add("allnan", 10, "2024-01-01", np.full(10, np.nan))  # no rows
    poison = rng.randn(40)
    poison[3] = np.inf
    add("poison", 40, "2024-01-01", poison)  # fallback, fails alone
    pdf = pd.concat(parts, ignore_index=True)

    for only_future, periods in [(True, 7), (False, 5)]:
        batched = batched_fit_predict_long(
            pdf, ["metric"], periods, only_future=only_future,
            backend="fourier_ridge",
        )
        refs = []
        for m, sub in pdf.groupby("metric", sort=False):
            try:
                r = fit_predict_frame(
                    sub[["ds", "y"]], periods, only_future=only_future,
                    backend="fourier_ridge",
                )
            except Exception:
                continue
            r["metric"] = m
            r["ds"] = pd.to_datetime(r["ds"]).dt.date
            refs.append(r[["metric", "ds", "yhat", "yhat_lower", "yhat_upper"]])
        ref = pd.concat(refs, ignore_index=True)

        key = ["metric", "ds"]
        b = batched.sort_values(key, ignore_index=True)
        r = ref.sort_values(key, ignore_index=True)
        assert list(b["metric"]) == list(r["metric"])
        assert list(b["ds"]) == list(r["ds"])
        for col in ("yhat", "yhat_lower", "yhat_upper"):
            # equal_nan: the inf-poisoned series does NOT raise in the
            # reference path — lstsq yields NaNs — and the batched
            # fallback must reproduce those NaN rows at the same spots
            assert np.array_equal(
                b[col].to_numpy(), r[col].to_numpy(), equal_nan=True
            ), f"{col} not bit-identical (only_future={only_future})"
        # the failure modes really exercised their branches
        got = set(b["metric"])
        assert {"single", "allnan"}.isdisjoint(got)
        assert {"gapped", "yearly", "const", "poison"}.issubset(got)


def test_in_process_fit_matches_worker_under_multithreaded_blas(spark):
    """A Spark worker fits with one BLAS thread (OMP_NUM_THREADS=1). An
    in-process fit must give the same bits while the caller's OpenBLAS runs
    several threads: LAPACK's least-squares solve differs in the last ulp
    between one thread and several, so the fit pins one thread and then
    restores the caller's count."""
    from clickhouse_forecasting_spark.forecast import model

    calls = model._openblas_thread_calls()
    if calls is None:
        pytest.skip("numpy here exposes no OpenBLAS thread control")
    get, set_ = calls
    rng = np.random.default_rng(812)
    pdf = _series(n=730, start="2022-03-01")
    pdf["y"] = pdf["y"] + rng.normal(0.0, 2.0, len(pdf))
    long_pdf = pdf.assign(metric="m")
    worker = (
        SeriesForecaster(interval=30, backend="fourier_ridge")
        .transform_long(spark.createDataFrame(long_pdf.assign(ds=pdf["ds"].dt.date)))
        .toPandas()
        .sort_values("ds", ignore_index=True)
    )

    before = get()
    set_(4)
    try:
        if get() < 2:
            pytest.skip("OpenBLAS here runs one thread only")
        batched = model.batched_fit_predict_long(
            long_pdf, ["metric"], periods=30, backend="fourier_ridge"
        )
        single = fit_predict_frame(pdf, periods=30, backend="fourier_ridge")
        assert get() == 4  # the caller's count is restored
    finally:
        set_(before)
    assert len(worker) == 760
    for col in ("yhat", "yhat_lower", "yhat_upper"):
        assert np.array_equal(batched[col].to_numpy(), worker[col].to_numpy()), col
        assert np.array_equal(single[col].to_numpy(), worker[col].to_numpy()), col


def test_distributed_matches_local(spark):
    """Distributed applyInPandas output == single-machine model run (SURVEY §5.2c):
    the local fit of the same series IS the oracle for M1/M2."""
    pdf = _series(n=60)
    df = spark.createDataFrame(
        [Row(date=d.date(), m=float(v)) for d, v in zip(pdf["ds"], pdf["y"])]
    )
    dist = (
        SeriesForecaster(interval=7, backend="fourier_ridge")
        .transform(df)
        .orderBy("date")
        .toPandas()
    )
    local = fit_predict_frame(pdf, periods=7, backend="fourier_ridge")
    assert len(dist) == len(local)
    np.testing.assert_allclose(dist["m"].to_numpy(), local["yhat"].to_numpy(), rtol=1e-9)
    np.testing.assert_allclose(dist["m_min"].to_numpy(), local["yhat_lower"].to_numpy(), rtol=1e-9)


def test_failed_series_null_fill(spark):
    """M4: a metric whose fit fails yields all-NULL columns, other metrics
    survive (forecast_script.py:196-198,207-211 NULL-fill semantics)."""
    rows = [
        Row(date=dt.date(2024, 1, 1) + dt.timedelta(days=i), good=float(i), bad=None)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, schema="date date, good double, bad double")
    out = SeriesForecaster(interval=3, backend="fourier_ridge").transform(df)
    agg = out.agg(
        F.count("good").alias("good_n"), F.count("bad").alias("bad_n"), F.count("*").alias("rows")
    ).collect()[0]
    assert agg.rows == 33
    assert agg.good_n == 33
    assert agg.bad_n == 0


def test_gapped_history_axis(spark):
    """Gapped dates: in-sample predictions only for observed dates + future
    (FIXTURES A5 bucket_gapped)."""
    days = [i for i in range(30) if i not in (5, 6, 12)]
    rows = [Row(date=dt.date(2024, 1, 1) + dt.timedelta(days=i), m=float(i)) for i in days]
    df = spark.createDataFrame(rows)
    out = SeriesForecaster(interval=2, backend="fourier_ridge").transform(df)
    got = sorted(r.date for r in out.select("date").collect())
    assert len(got) == len(days) + 2
    assert dt.date(2024, 1, 6) not in got


def test_incremental_refits_only_advanced_series(spark):
    """Incremental: a series whose max(ds) advanced is refit; a quiet series
    reuses its prior forecast rows verbatim (proven by a sentinel planted in
    the prior output — a refit would erase it)."""
    fc = SeriesForecaster(interval=3, backend="fourier_ridge")

    def long_frame(n_a, n_b):
        rows = [
            Row(metric="a", ds=dt.date(2024, 1, 1) + dt.timedelta(days=i), y=float(i))
            for i in range(n_a)
        ] + [
            Row(metric="b", ds=dt.date(2024, 1, 1) + dt.timedelta(days=i), y=50.0 + i)
            for i in range(n_b)
        ]
        return spark.createDataFrame(rows, schema="metric string, ds date, y double")

    base = long_frame(30, 30)
    prior, wm = fc.transform_long_incremental(base, None, None)
    prior = prior.withColumn(  # sentinel: survives only if 'b' is NOT refit
        "yhat", F.when(F.col("metric") == "b", F.lit(-12345.0)).otherwise(F.col("yhat"))
    ).cache()
    assert wm.count() == 2

    grown = long_frame(40, 30)  # only 'a' advanced
    out, wm2 = fc.transform_long_incremental(grown, prior, wm)
    got = out.groupBy("metric").agg(
        F.count("*").alias("n"), F.min("yhat").alias("min_yhat"), F.max("ds").alias("max_ds")
    ).collect()
    by_metric = {r["metric"]: r for r in got}
    assert by_metric["a"]["n"] == 43  # refit: 40 history + 3 horizon
    assert by_metric["a"]["max_ds"] == dt.date(2024, 2, 12)
    assert by_metric["b"]["n"] == 33  # reused prior rows...
    assert by_metric["b"]["min_yhat"] == -12345.0  # ...sentinel intact
    # new watermarks reflect the grown axis
    wm_map = {r["metric"]: r["last_max_ds"] for r in wm2.collect()}
    assert wm_map == {"a": dt.date(2024, 2, 9), "b": dt.date(2024, 1, 30)}


def test_incremental_new_series_is_fitted(spark):
    """A series with no watermark (newly appeared) counts as stale."""
    fc = SeriesForecaster(interval=2, backend="fourier_ridge")
    base = spark.createDataFrame(
        [Row(metric="a", ds=dt.date(2024, 1, 1) + dt.timedelta(days=i), y=float(i)) for i in range(20)],
        schema="metric string, ds date, y double",
    )
    prior, wm = fc.transform_long_incremental(base, None, None)
    both = base.unionByName(
        spark.createDataFrame(
            [Row(metric="c", ds=dt.date(2024, 1, 1) + dt.timedelta(days=i), y=9.0) for i in range(20)],
            schema="metric string, ds date, y double",
        )
    )
    out, _ = fc.transform_long_incremental(both, prior, wm)
    counts = {r["metric"]: r["n"] for r in out.groupBy("metric").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 22, "c": 22}


def test_backtest_rolling_origin(spark):
    """Backtest: every (cutoff x metric) is scored on held-out days; on a
    noiseless additive series the surrogate's out-of-sample error is small
    and the uncertainty interval covers most actuals."""
    pdf = _series(n=120)
    rows = [
        Row(metric=m, ds=d.date(), y=float(v))
        for m in ("a", "b")
        for d, v in zip(pdf["ds"], pdf["y"])
    ]
    long_df = spark.createDataFrame(rows, schema="metric string, ds date, y double")
    fc = SeriesForecaster(interval=7, backend="fourier_ridge")
    out = fc.backtest(long_df, cutoffs=["2024-03-01", "2024-04-01"]).collect()
    assert len(out) == 4  # 2 metrics x 2 cutoffs
    for r in out:
        assert r["n_scored"] == 7  # full horizon has actuals
        assert r["mae"] < 2.0  # near-noiseless series forecasts well
        assert 0.0 <= r["coverage"] <= 1.0
        assert r["rmse"] >= r["mae"] - 1e-9
