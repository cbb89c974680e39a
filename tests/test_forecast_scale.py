"""Forecast-at-scale structural pins (VERDICT r4 #7): the many-series
fan-out must keep its parallel shape — the properties that make 10k (or
10M) series a width problem, not a latency problem.

The serial-collapse failure mode these pins guard: AQE's byte-based
shuffle coalescing merged the fit stage into ONE python worker (32
groups x 1s compute ran in 33s wall before the fanout_partitions fix in
forecaster.py). Byte-cheap / CPU-heavy Python stages must pin their own
width.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.forecast.forecaster import SeriesForecaster
from clickhouse_forecasting_spark.sources import seriesgen


N_SERIES = 2000
DAYS = 30
INTERVAL = 7


@pytest.fixture(scope="module")
def scale_out(spark):
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", str(N_SERIES))
        .option("days", str(DAYS))
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    fc = SeriesForecaster(interval=INTERVAL, only_future=True)
    return fc.transform_long(long_df)


def test_scan_partitions_are_batched(spark):
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", str(N_SERIES))
        .option("days", "3")
        .load()
    )
    # 2000 series must NOT be 2000 scan tasks (measured ~11ms of pure
    # task-launch each); the source caps at 512 strided partitions
    assert df.rdd.getNumPartitions() == 512
    # and the stride loses nothing: every series exactly once per day
    assert df.count() == N_SERIES * 3
    assert df.select("series_id").distinct().count() == N_SERIES


def test_fit_stage_width_survives_aqe(spark, scale_out):
    # the fit output keeps the pinned fan-out width — AQE must not have
    # coalesced the Python stage to fewer partitions than the session's
    # parallelism
    want = spark.sparkContext.defaultParallelism
    assert scale_out.rdd.getNumPartitions() == want


def test_single_exchange_feeds_the_fit(spark):
    # fresh frame: an executed fixture's plan string mutates under AQE
    # (stage wrappers double-count "Exchange")
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", "50")
        .option("days", "20")
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    out = SeriesForecaster(interval=INTERVAL, only_future=True).transform_long(
        long_df
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # r9: the batched partition fitter replaced per-group applyInPandas
    assert "MapInPandas" in plan
    # exactly one exchange: the keyed repartition co-locates each series'
    # rows; the batched fitter is a narrow map over that partitioning
    assert plan.count("Exchange") == 1, plan[:600]


def test_every_series_fit_with_bounded_output(scale_out):
    per = scale_out.groupBy("metric").agg(F.count("*").alias("n"))
    stats = per.agg(
        F.count("*").alias("n_series"),
        F.min("n").alias("lo"),
        F.max("n").alias("hi"),
    ).collect()[0]
    # all series present, each exactly INTERVAL rows (only_future)
    assert stats.n_series == N_SERIES
    assert stats.lo == INTERVAL and stats.hi == INTERVAL


def test_fit_tasks_are_balanced(scale_out):
    # hash partitioning on series id must spread the CPU: no partition
    # holds more than 3x the mean share of series
    spread = (
        scale_out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.countDistinct("metric").alias("n"))
        .agg(F.max("n").alias("mx"), F.avg("n").alias("avg"))
        .collect()[0]
    )
    assert spread.mx <= 3 * spread.avg, (spread.mx, spread.avg)


def test_poison_series_isolated_at_fanout_scale(spark):
    """M4 fault isolation AT SCALE: among 300 concurrent fits, the
    series with <2 observations must contribute zero rows while every
    healthy series completes — one poison group cannot fail the job or
    leak into other groups' output."""
    import datetime

    n_series, days = 300, 20
    rows = []
    for sid in range(n_series):
        n_obs = 1 if sid % 50 == 0 else days  # every 50th series poison
        for d in range(n_obs):
            rows.append((datetime.date(2024, 1, 1) + datetime.timedelta(days=d),
                         str(sid), 100.0 + sid + d))
    long_df = spark.createDataFrame(rows, "ds date, metric string, y double")
    fc = SeriesForecaster(interval=INTERVAL, only_future=True)
    out = fc.transform_long(long_df)
    per = {r.metric: r.n for r in
           out.groupBy("metric").agg(F.count("*").alias("n")).collect()}
    poison = {str(s) for s in range(0, n_series, 50)}
    assert set(per) == {str(s) for s in range(n_series)} - poison
    assert all(n == INTERVAL for n in per.values())


def test_backtest_fanout_width_survives_aqe(spark):
    """r5 VERDICT #5: backtest multiplies series × cutoffs through the
    SAME transform_long keyed repartition — the fit stage must keep the
    pinned width with the multiplied (cutoff, metric) key space, exactly
    like the plain path (the AQE serial-collapse defense is inside
    transform_long, so this proves it covers the backtest entry point)."""
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", str(N_SERIES))
        .option("days", str(DAYS))
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    fc = SeriesForecaster(interval=INTERVAL, only_future=True)
    cutoffs = ["2024-01-16", "2024-01-23"]
    train = None
    for c in cutoffs:
        t = long_df.filter(F.col("ds") <= F.lit(c)).withColumn("cutoff", F.lit(c))
        train = t if train is None else train.unionByName(t)
    preds = fc.transform_long(train, group_cols=["cutoff"])
    assert preds.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    plan = preds._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_series_proportional_fanout_is_input_derived(spark, monkeypatch):
    """r12: the scale queries size the fit stage from the SERIES COUNT
    (SERIES_PER_PART target per partition), never the core count — and
    an explicit fanout_partitions is respected end-to-end by the
    batched fit stage (the knob the formula feeds)."""
    from clickhouse_forecasting_spark.forecast import forecaster
    from clickhouse_forecasting_spark.forecast.forecaster import (
        series_proportional_fanout,
    )

    assert series_proportional_fanout(2500) == 14  # ceil(2500/192)
    assert series_proportional_fanout(1) == 1
    assert series_proportional_fanout(192) == 1
    assert series_proportional_fanout(193) == 2
    monkeypatch.setattr(forecaster, "SERIES_PER_PART", 100)
    assert series_proportional_fanout(2500) == 25
    monkeypatch.undo()
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", "64")
        .option("days", "20")
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    fc = SeriesForecaster(interval=3, only_future=True, fanout_partitions=5)
    assert fc.transform_long(long_df).rdd.getNumPartitions() == 5


def test_backtest_scores_every_cell_once(spark):
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", "200")
        .option("days", str(DAYS))
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    fc = SeriesForecaster(interval=INTERVAL, only_future=True)
    out = fc.backtest(long_df, ["2024-01-16", "2024-01-23"]).collect()
    assert len(out) == 200 * 2
    assert all(r.n_scored == INTERVAL for r in out)
    assert all(0.0 <= r.coverage <= 1.0 for r in out)


def test_backtest_fused_width_pinned(spark):
    """The fused backtest keeps transform_long's AQE serial-collapse
    defense: the fit/score MapInPandas stage is fed by an explicit
    REPARTITION_BY_NUM exchange at defaultParallelism width — a
    byte-based coalescer must not merge the CPU-heavy python stage."""
    import datetime as dt

    rows = [
        (f"m{s}", dt.date(2024, 1, 1) + dt.timedelta(days=i), float(i + s))
        for s in range(8)
        for i in range(20)
    ]
    long_df = spark.createDataFrame(rows, "metric string, ds date, y double")
    fc = SeriesForecaster(interval=3, only_future=True)
    out = fc.backtest(long_df, ["2024-01-10", "2024-01-15"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    width = spark.sparkContext.defaultParallelism
    assert "MapInPandas" in plan
    assert f"hashpartitioning(metric#" in plan and "REPARTITION_BY_NUM" in plan
    assert f", {width}), REPARTITION_BY_NUM" in plan


def test_backtest_fused_matches_plan_side_scoring(spark):
    """r9 VERDICT #3 parity pin: the fused worker-side backtest (one
    history shuffle, in-worker cutoff fan-out + scoring) against an
    inline reconstruction of the r9 plan-side pipeline (broadcast cutoff
    cross-join -> transform_long -> join actuals -> aggregate). Counts
    and coverage exact; error means within float-reassociation noise."""
    seriesgen.register(spark)
    df = (
        spark.read.format("seriesgen")
        .option("series", "60")
        .option("days", str(DAYS))
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    cutoffs = ["2024-01-16", "2024-01-23"]
    fc = SeriesForecaster(interval=INTERVAL, only_future=True)
    fused = {
        (r.metric, r.cutoff): r for r in fc.backtest(long_df, cutoffs).collect()
    }

    # the r9 plan-side pipeline, reconstructed from the same public parts
    cuts = spark.createDataFrame([(c,) for c in cutoffs], "cutoff string")
    train = long_df.crossJoin(F.broadcast(cuts)).filter(
        F.col("ds") <= F.col("cutoff")
    )
    preds = SeriesForecaster(interval=INTERVAL, only_future=True).transform_long(
        train, group_cols=["cutoff"]
    )
    actual = long_df.select("metric", "ds", F.col("y").alias("actual"))
    err = F.col("yhat") - F.col("actual")
    covered = (
        (F.col("actual") >= F.col("yhat_lower"))
        & (F.col("actual") <= F.col("yhat_upper"))
    ).cast("double")
    plan_side = {
        (r.metric, r.cutoff): r
        for r in preds.join(actual, ["metric", "ds"])
        .groupBy("metric", "cutoff")
        .agg(
            F.count("*").alias("n_scored"),
            F.avg(F.abs(err)).alias("mae"),
            F.sqrt(F.avg(err * err)).alias("rmse"),
            F.avg(
                F.when(F.abs(F.col("actual")) > 1e-9, F.abs(err / F.col("actual")))
            ).alias("mape"),
            F.avg(covered).alias("coverage"),
        )
        .collect()
    }
    assert set(fused) == set(plan_side) and len(fused) == 60 * 2
    for k, f in fused.items():
        p = plan_side[k]
        assert f.n_scored == p.n_scored
        assert f.coverage == p.coverage  # indicator means: exact
        for c in ("mae", "rmse", "mape"):
            assert getattr(f, c) == pytest.approx(getattr(p, c), abs=1e-12)


def test_backtest_fused_matches_reference_per_series_exact(spark):
    """Bit-for-bit extension of the batched==per-series pin to the
    backtest path: for every (series, cutoff) cell, metrics computed by
    the fused worker EQUAL (==, no tolerance) metrics recomputed from
    the per-series reference path (fit_predict_frame) in numpy — same
    value order, same float ops. Includes a series too short at the
    first cutoff (M4: that cell is absent, the later cell present)."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from clickhouse_forecasting_spark.forecast.model import fit_predict_frame

    d0 = dt.date(2024, 1, 1)
    rows = []
    for i in range(20):
        rows.append(("a", d0 + dt.timedelta(days=i), float(i) + 0.25 * (i % 5)))
        rows.append(("b", d0 + dt.timedelta(days=i), 50.0 - 1.5 * i + (i % 3)))
        if i >= 9:  # series c starts day 10: <2 obs at the day-1 cutoff
            rows.append(("c", d0 + dt.timedelta(days=i), 5.0 + 0.1 * i))
    long_df = spark.createDataFrame(rows, "metric string, ds date, y double")
    cutoffs = ["2024-01-02", "2024-01-13"]
    interval = 5
    fc = SeriesForecaster(interval=interval, only_future=True)
    fused = {
        (r.metric, r.cutoff): r for r in fc.backtest(long_df, cutoffs).collect()
    }
    assert ("c", "2024-01-02") not in fused  # M4: fails alone
    assert ("a", "2024-01-02") in fused

    pdf = pd.DataFrame(rows, columns=["metric", "ds", "y"])
    for (m, cutoff), got in fused.items():
        hist = pdf[(pdf.metric == m) & (pdf.ds <= dt.date.fromisoformat(cutoff))]
        preds = fit_predict_frame(
            hist[["ds", "y"]], periods=interval, only_future=True,
            backend="fourier_ridge",
        )
        preds = preds.assign(ds=pd.to_datetime(preds["ds"]).dt.date)
        merged = preds.merge(
            pdf[pdf.metric == m][["ds", "y"]].rename(columns={"y": "actual"}),
            on="ds", how="inner",
        )
        e = (merged["yhat"] - merged["actual"]).to_numpy()
        act = merged["actual"].to_numpy()
        cov = (
            (act >= merged["yhat_lower"].to_numpy())
            & (act <= merged["yhat_upper"].to_numpy())
        ).astype("float64")
        mape_t = np.where(np.abs(act) > 1e-9, np.abs(e / act), np.nan)
        assert got.n_scored == len(merged)
        assert got.mae == float(np.mean(np.abs(e)))
        assert got.rmse == float(np.sqrt(np.mean(e * e)))
        assert got.mape == float(np.mean(mape_t[~np.isnan(mape_t)]))
        assert got.coverage == float(np.mean(cov))


def test_backtest_null_holdout_actuals_counted_not_poisoning(spark):
    """Documented NULL semantics of the fused scorer: a holdout day whose
    actual is NULL counts in n_scored (the row exists) but is excluded
    from the error means and coverage."""
    import datetime as dt

    d0 = dt.date(2024, 1, 1)
    rows = [("m", d0 + dt.timedelta(days=i), float(10 + i)) for i in range(10)]
    # holdout days 10..12; day 11 has a NULL actual
    rows.append(("m", d0 + dt.timedelta(days=10), 20.0))
    rows.append(("m", d0 + dt.timedelta(days=11), None))
    rows.append(("m", d0 + dt.timedelta(days=12), 22.0))
    long_df = spark.createDataFrame(rows, "metric string, ds date, y double")
    fc = SeriesForecaster(interval=3, only_future=True)
    out = fc.backtest(long_df, ["2024-01-10"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_scored == 3  # the NULL-actual row is still a scored cell
    assert r.mae is not None and not (r.mae != r.mae)  # finite, not NaN
    assert 0.0 <= r.coverage <= 1.0
