# forecasting shapes + fan-out scale proofs (M1-M4)
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5): it imports its
# dependencies explicitly instead of resolving them through the
# package's shared exec namespace. __init__.py still merges its names
# into that namespace so later (exec-loaded) parts and the registry see
# them exactly as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..forecast import SeriesForecaster
from ..relational import daily_rollup
from .catalog_relational import _dsum, _orders_daily, _t

# --------------------------------------------------------------------------
# forecasting (core capability; structurally checked, not SQL-expressible)
# --------------------------------------------------------------------------

# series count of the seriesgen corpus behind the two fan-out scale rows
# (forecast_scale_series, forecast_backtest_scale) and their audits
N_SCALE_SERIES = 2500


def _scale_series_and_forecaster(
    spark: SparkSession,
) -> tuple[DataFrame, SeriesForecaster]:
    """The scale rows' shared input — N_SCALE_SERIES deterministic 30-day
    seriesgen series as a long (ds, metric, y) frame — and their 7-day
    only-future forecaster."""
    from ..forecast.forecaster import series_proportional_fanout
    from ..sources import seriesgen as _sg

    _sg.register(spark)
    # scan partitions sized to cluster width, not series count: each
    # Python-source task carries fixed worker-roundtrip overhead, so the
    # source's 512-partition default (right for a wide cluster) costs
    # ~4.9s of pure task launch on local[32]. 1x parallelism, not 2x:
    # the generator's tasks are deterministic and perfectly uniform, so
    # the extra width buys no balancing — only task launches (measured
    # 0.89s vs 1.17s warm for the 75k-row scan).
    n_scan = spark.sparkContext.defaultParallelism
    df = (
        spark.read.format("seriesgen")
        .option("series", str(N_SCALE_SERIES))
        .option("days", "30")
        .option("partitions", str(n_scan))
        .load()
    )
    long_df = df.select(
        F.col("date").alias("ds"),
        F.col("series_id").cast("string").alias("metric"),
        F.col("y"),
    )
    # fit-stage width ∝ series count, not cluster width (r12, guide
    # §2.1): the session-width inherit made the backtest row SLOWER on
    # 32 cores than 8 (PERF_r11 scaling 0.61) — the per-task constant
    # (worker round-trip + per-cutoff axis prep) dominated 78-series
    # partitions
    fc = SeriesForecaster(
        interval=7, only_future=True,
        fanout_partitions=series_proportional_fanout(N_SCALE_SERIES),
    )
    return long_df, fc


def q_forecast_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _orders_daily(spark, sf_dir)
    return SeriesForecaster(interval=7, backend="fourier_ridge").transform(daily)


def q_forecast_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The architecture headline: EVERY daily series of EVERY source table
    forecast in ONE distributed job. Wide tables unpivot into one long
    frame tagged (table, metric); the keyed repartition + batched
    mapInPandas fitter runs all series concurrently — the reference's nested per-table,
    per-column loop (forecast_script.py:229,169) collapsed into a single
    shuffle. Output: long forecasts keyed (table, metric, ds)."""
    from ..relational import unpivot_metrics

    orders_daily = _orders_daily(spark, sf_dir)
    events_daily = daily_rollup(
        _t(spark, sf_dir, "events"),
        "ts",
        [
            F.count("*").cast("double").alias("event_count"),
            _dsum(F.col("value")).alias("total_value"),
        ],
    )
    long = unpivot_metrics(
        orders_daily, ["order_count", "total_revenue"]
    ).withColumn("table", F.lit("orders_daily")).unionByName(
        unpivot_metrics(
            events_daily, ["event_count", "total_value"]
        ).withColumn("table", F.lit("events_daily"))
    )
    fc = SeriesForecaster(interval=7, backend="fourier_ridge")
    return fc.transform_long(long, group_cols=["table"]).orderBy(
        "table", "metric", "ds"
    )


def q_forecast_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refit demo (rows-only): fit on history cut at 2000-01-01,
    then advance only the order_count series' axis — the revenue series
    reuses its prior forecast without touching a Python worker. The
    reference drops and recreates everything per run; cost here scales with
    changed series."""
    from ..relational import unpivot_metrics

    daily = _orders_daily(spark, sf_dir)
    long_all = unpivot_metrics(daily, ["order_count", "total_revenue"])
    cut = long_all.filter(F.col("ds") < "2000-01-01")
    grown = cut.unionByName(
        long_all.filter((F.col("ds") >= "2000-01-01") & (F.col("metric") == "order_count"))
    )
    fc = SeriesForecaster(interval=7, backend="fourier_ridge")
    prior, wm = fc.transform_long_incremental(cut, None, None)
    out, _ = fc.transform_long_incremental(grown, prior, wm)
    return out.orderBy("metric", "ds")


def q_forecast_backtest_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest at fan-out scale (r5 VERDICT #5, fused in r10 per r9
    VERDICT #3): the 2,500-series seriesgen corpus × 4 rolling cutoffs =
    10,000 (series, cutoff) fits in ONE batched-mapInPandas job. The
    history shuffles ONCE (keyed repartition on the series); the cutoff
    axis fans out inside the worker, which fits each cutoff's prefix
    through the batched fitter and scores against the co-located holdout
    actuals — shuffle volume independent of cutoff count, no prediction
    shuffle, no scoring join. The explicit repartition is the same AQE
    serial-collapse defense the plain path got in r4;
    tests/test_forecast_scale.py pins the stage width. Rows-only (scores
    are model output); forecast_backtest_scale_contract_audit is the
    hash-gated twin and forecast_backtest_constant_exact value-gates the
    fused scorer. Cutoffs leave ≥7 held-out days inside the 30-day
    history, so every fit scores exactly `interval` actuals."""
    long_df, fc = _scale_series_and_forecaster(spark)
    return fc.backtest(
        long_df, ["2024-01-16", "2024-01-19", "2024-01-22", "2024-01-23"]
    )


def q_forecast_backtest_scale_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-gated contract for the 10,000-fit backtest: every
    (series × cutoff) cell present exactly once (n_rows = 2500 × 4),
    every fit scored on exactly 7 held-out days, coverage a valid
    fraction, error metrics finite and non-negative — pinned as literal
    expectations from the generator/cutoff parameters. A dropped
    series, a double-emit from a serial collapse, or a broken holdout
    join breaks the hash."""
    out = q_forecast_backtest_scale(spark, sf_dir)
    bad_cov = (F.col("coverage") < 0) | (F.col("coverage") > 1)
    bad_err = (
        F.col("mae").isNull() | (F.col("mae") < 0)
        | F.col("rmse").isNull() | (F.col("rmse") < 0)
        | F.isnan("mae") | F.isnan("rmse")
    )
    per_cell = out.groupBy("metric", "cutoff").agg(F.count("*").alias("n"))
    return (
        out.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("metric").cast("bigint").alias("n_series"),
            F.countDistinct("cutoff").cast("bigint").alias("n_cutoffs"),
            F.min("n_scored").cast("bigint").alias("n_scored_min"),
            F.max("n_scored").cast("bigint").alias("n_scored_max"),
            F.sum(bad_cov.cast("bigint")).cast("bigint").alias("n_coverage_violations"),
            F.sum(bad_err.cast("bigint")).cast("bigint").alias("n_error_violations"),
        )
        .crossJoin(
            F.broadcast(
                per_cell.agg(F.max("n").cast("bigint").alias("max_rows_per_cell"))
            )
        )
    )


_FORECAST_BACKTEST_SCALE_AUDIT_SQL = f"""
SELECT CAST({N_SCALE_SERIES} * 4 AS BIGINT) AS n_rows,
  CAST({N_SCALE_SERIES} AS BIGINT) AS n_series,
  CAST(4 AS BIGINT) AS n_cutoffs,
  CAST(7 AS BIGINT) AS n_scored_min,
  CAST(7 AS BIGINT) AS n_scored_max,
  CAST(0 AS BIGINT) AS n_coverage_violations,
  CAST(0 AS BIGINT) AS n_error_violations,
  CAST(1 AS BIGINT) AS max_rows_per_cell
"""


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest over the orders daily series (rows-only):
    two cutoffs x two metrics fit in ONE distributed job (cutoff is a group
    key), scored on held-out actuals."""
    from ..relational import unpivot_metrics

    daily = _orders_daily(spark, sf_dir)
    long_all = unpivot_metrics(daily, ["order_count", "total_revenue"])
    fc = SeriesForecaster(interval=7, backend="fourier_ridge")
    return fc.backtest(long_all, cutoffs=["2000-06-01", "2000-09-01"])


def q_forecast_only_future(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = daily_rollup(
        ev, "ts", [F.count("*").cast("double").alias("event_count"), _dsum(F.col("value")).alias("total_value")]
    )
    return SeriesForecaster(interval=7, only_future=True, backend="fourier_ridge").transform(daily)


def q_forecast_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed contract for the flagship forecast (the forecast_* queries
    stay rows-only because yhat is model output, but everything the
    CONTRACT promises is deterministic and oracle-checkable): axis =
    distinct history dates plus exactly `interval` future days (R7/M3),
    schema = date + (m, m_min, m_max) per metric (C5), zero NULL cells for
    healthy series (M4/R12), and zero rows violating m_min <= m <= m_max
    (R10/M2 interval ordering). The DuckDB twin recomputes the axis facts
    from orders and pins every verdict at its healthy value."""
    fc = q_forecast_daily_sales(spark, sf_dir)
    metrics = sorted(
        c for c in fc.columns
        if c != "date" and not c.endswith("_min") and not c.endswith("_max")
    )
    bad = None
    nulls = None
    for m in metrics:
        viol = (
            (F.col(f"{m}_min") > F.col(m)) | (F.col(m) > F.col(f"{m}_max"))
        ).cast("bigint")
        isnull = (
            F.col(m).isNull()
            | F.col(f"{m}_min").isNull()
            | F.col(f"{m}_max").isNull()
        ).cast("bigint")
        bad = viol if bad is None else bad + viol
        nulls = isnull if nulls is None else nulls + isnull
    return fc.agg(
        F.count("*").alias("n_rows"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.sum(nulls).cast("bigint").alias("n_null_cells"),
        F.sum(bad).cast("bigint").alias("n_bound_violations"),
    ).select(
        "n_rows", "min_date", "max_date",
        F.lit(len(metrics)).alias("n_metrics"),
        "n_null_cells", "n_bound_violations",
    )


_FORECAST_AUDIT_SQL = """
SELECT CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) + 7 AS BIGINT) AS n_rows,
  MIN(CAST(o_orderdate AS DATE)) AS min_date,
  MAX(CAST(o_orderdate AS DATE)) + 7 AS max_date,
  2 AS n_metrics,
  CAST(0 AS BIGINT) AS n_null_cells,
  CAST(0 AS BIGINT) AS n_bound_violations
FROM orders
"""


def q_forecast_future_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed contract for the --only-future shape (R8): exactly
    `interval` rows, all strictly after the last observed event day,
    consecutive, bounds ordered — the contract the reference's
    only_future flag promises (forecast_script.py:175-176), recomputed by
    DuckDB from the events table."""
    fc = q_forecast_only_future(spark, sf_dir)
    metrics = sorted(
        c for c in fc.columns
        if c != "date" and not c.endswith("_min") and not c.endswith("_max")
    )
    bad = None
    for m in metrics:
        viol = (
            (F.col(f"{m}_min") > F.col(m)) | (F.col(m) > F.col(f"{m}_max"))
        ).cast("bigint")
        bad = viol if bad is None else bad + viol
    return fc.agg(
        F.count("*").alias("n_rows"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.sum(bad).cast("bigint").alias("n_bound_violations"),
    ).select(
        "n_rows", "min_date", "max_date",
        F.lit(len(metrics)).alias("n_metrics"),
        "n_bound_violations",
    )


_FORECAST_FUTURE_AUDIT_SQL = """
SELECT CAST(7 AS BIGINT) AS n_rows,
  MAX(CAST(ts AS DATE)) + 1 AS min_date,
  MAX(CAST(ts AS DATE)) + 7 AS max_date,
  2 AS n_metrics,
  CAST(0 AS BIGINT) AS n_bound_violations
FROM events
"""


def q_forecast_scale_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-at-scale proof (VERDICT r4 #7): 2,500 independent
    series from the seriesgen source (30 days each, deterministic)
    through SeriesForecaster.transform_long with a 7-day only-future
    horizon — ONE keyed repartition, then batched mapInPandas fits
    (r9: series sharing a date axis share the design matrix / future
    axis inside each worker — bit-identical to per-series, pinned by
    test). The fit stage pins its own fan-out width with the keyed
    repartition because AQE's BYTE-based shuffle coalescing would
    otherwise merge the tiny-by-bytes/heavy-by-CPU Python stage into
    one serial worker (measured 24s -> 8s at 2,500 series on
    local[32]; the r9 batching + vectorized scan took the query from
    ~8.7s to ~2.5s). Rows-only (yhat is model output);
    forecast_scale_contract_audit is the hash-gated twin. At 100 TB
    this exact plan is the engine's core primitive: per-partition cost
    is constant, width is the cluster."""
    long_df, fc = _scale_series_and_forecaster(spark)
    return fc.transform_long(long_df).orderBy("metric", "ds")


def q_forecast_constant_series_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast family's fully HASH-GATED row (r8 VERDICT task #6):
    the real production fit path — SeriesForecaster.transform_long, the
    keyed repartition + batched mapInPandas + augmented-lstsq solve that
    every forecast query runs — on a corpus whose exact output is
    provable, so the yhat values themselves (not just the shape contract)
    hash against DuckDB.

    The corpus: one 10-day constant series (y = 1000), 5-day horizon,
    history ∪ future. Span < 14 days keeps the design trend-only
    ([1, t]); for constant y the exact minimizer of the ridge objective
    ||Xb - y||² + α·b₁² is b = (1000, 0) with residual EXACTLY zero (zero
    loss, zero penalty, strictly convex). LAPACK's computed solution
    differs from it by ≤ cond(X)·eps·‖y‖ ≈ 1e-11, and the residual
    quantiles are ~1e-12 — both orders of magnitude inside the driver
    canon's %.6f float quantum, and 1000.0 sits nowhere near a rounding
    boundary, so yhat = yhat_lower = yhat_upper = 1000.000000 on both
    engines, deterministically.

    Why only this subset can be exact (the documented boundary for the
    remaining rows-only forecast rows): the production solve is DEFINED
    as float64 LAPACK gelsd; on a general series the oracle would need a
    different algorithm (closed-form normal equations in SQL), which
    agrees only to ~1e-9 relative — at revenue-scale magnitudes (1e6)
    that is 1e-3 absolute, far outside %.6f. Exactness needs a zero-
    residual design, which constant-y (or exactly-linear-y over a
    trend-only axis) provides and real data never does."""
    axis = spark.sql(
        "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-10')) AS ds"
    )
    long_df = axis.select(
        F.lit("const").alias("metric"), F.col("ds"), F.lit(1000.0).alias("y")
    )
    fc = SeriesForecaster(interval=5, backend="fourier_ridge")
    return (
        fc.transform_long(long_df)
        .select("metric", "ds", "yhat", "yhat_lower", "yhat_upper")
        .orderBy("ds")
    )


_FORECAST_CONSTANT_EXACT_SQL = """
SELECT 'const' AS metric,
       DATE '2024-01-01' + CAST(i AS INTEGER) AS ds,
       CAST(1000.0 AS DOUBLE) AS yhat,
       CAST(1000.0 AS DOUBLE) AS yhat_lower,
       CAST(1000.0 AS DOUBLE) AS yhat_upper
FROM range(0, 15) t(i)
ORDER BY ds
"""


def q_forecast_backtest_constant_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BACKTEST family's fully hash-gated row (r9 VERDICT #4): the
    real production backtest path — keyed repartition, in-worker cutoff
    fan-out, batched fit, fused holdout scoring — on the same zero-
    residual corpus forecast_constant_series_exact pins, so the scored
    METRICS themselves hash against DuckDB.

    Constant y = 1000 over 10 days, cutoffs at day 5 and day 7, 3-day
    horizon: both training prefixes are trend-only designs (span < 14)
    whose exact ridge minimizer is b = (1000, 0) with residual EXACTLY
    zero; LAPACK's computed yhat differs from 1000 by ≤ ~1e-11, so every
    error metric is ≤ ~1e-11 — orders of magnitude inside the driver
    canon's %.6f quantum — and n_scored is exactly the horizon (both
    holdout windows sit fully inside the 10-day history). mae, rmse and
    mape therefore hash as 0.000000 deterministically on both engines.

    coverage is the one column EXCLUDED: the 80% interval half-widths
    are residual-quantile NOISE (~±1e-13 around zero), so whether each
    actual lands inside [yhat+lo, yhat+hi] is the sign of float noise —
    deterministic, but not provable ahead of time on either engine. The
    shape contract on coverage stays gated by
    forecast_backtest_scale_contract_audit's violation counters."""
    axis = spark.sql(
        "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-10')) AS ds"
    )
    long_df = axis.select(
        F.lit("const").alias("metric"), F.col("ds"), F.lit(1000.0).alias("y")
    )
    fc = SeriesForecaster(interval=3, backend="fourier_ridge")
    return (
        fc.backtest(long_df, ["2024-01-05", "2024-01-07"])
        .select("metric", "cutoff", "n_scored", "mae", "rmse", "mape")
        .orderBy("cutoff")
    )


_FORECAST_BACKTEST_CONSTANT_EXACT_SQL = """
SELECT 'const' AS metric, c AS cutoff,
       CAST(3 AS BIGINT) AS n_scored,
       CAST(0.0 AS DOUBLE) AS mae,
       CAST(0.0 AS DOUBLE) AS rmse,
       CAST(0.0 AS DOUBLE) AS mape
FROM (VALUES ('2024-01-05'), ('2024-01-07')) t(c)
ORDER BY cutoff
"""


def q_forecast_wide_constant_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIDE pipeline's fully hash-gated row (r10 VERDICT #4): the
    reference's actual end-to-end shape — ``SeriesForecaster.transform``
    on a wide daily table, i.e. unpivot → keyed repartition → batched
    mapInPandas fit → k-way wide pivot (forecast_script.py:158,187-194)
    — on a TWO-metric constant fixture, so the date axis AND all three
    bound columns of BOTH metrics hash against DuckDB through the pivot.
    forecast_daily_sales / forecast_multi_table run this exact route on
    real data and stay rows-only (LAPACK-defined output values — see
    q_forecast_constant_series_exact's boundary note); this row value-
    gates the route itself: a pivot mis-alignment, a dropped metric, a
    min/max column swap, or a broken in-sample ∪ future axis all change
    the hash.

    Zero-residual argument (same as q_forecast_constant_series_exact):
    10-day span < 14 keeps the design trend-only; constant y makes the
    exact ridge minimizer (c, 0) with residual exactly zero, so yhat =
    lower = upper = the constant to ~1e-11 — inside the driver canon's
    %.6f quantum. Two different constants prove the pivot routes each
    metric's values to ITS columns (a crossed pivot would put 250s in
    the orders columns)."""
    wide = spark.sql(
        "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-10')) AS date"
    ).select(
        "date",
        F.lit(1000.0).alias("orders"),
        F.lit(250.0).alias("revenue"),
    )
    fc = SeriesForecaster(interval=5, backend="fourier_ridge")
    return fc.transform(wide).orderBy("date")


_FORECAST_WIDE_CONSTANT_EXACT_SQL = """
SELECT DATE '2024-01-01' + CAST(i AS INTEGER) AS date,
       CAST(1000.0 AS DOUBLE) AS orders,
       CAST(1000.0 AS DOUBLE) AS orders_min,
       CAST(1000.0 AS DOUBLE) AS orders_max,
       CAST(250.0 AS DOUBLE) AS revenue,
       CAST(250.0 AS DOUBLE) AS revenue_min,
       CAST(250.0 AS DOUBLE) AS revenue_max
FROM range(0, 15) t(i)
ORDER BY date
"""


def q_forecast_scale_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-gated contract for the 2,500-series fan-out: every series
    present, EXACTLY `interval` rows each (so n_rows = series x 7),
    all dates in the strictly-future 7-day window after the 30-day
    history (generator start 2024-01-01 -> future = 2024-01-31 ..
    2024-02-06), zero interval-ordering violations, zero NULL cells.
    The twin pins every number from the generator's parameters — a
    dropped series, a serial-collapse double-emit, or a broken future
    axis breaks the hash."""
    out = q_forecast_scale_series(spark, sf_dir)
    per = out.groupBy("metric").agg(F.count("*").alias("n"))
    return (
        out.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("metric").alias("n_series"),
            F.min("ds").alias("min_ds"),
            F.max("ds").alias("max_ds"),
            F.sum(
                (
                    (F.col("yhat_lower") > F.col("yhat"))
                    | (F.col("yhat") > F.col("yhat_upper"))
                ).cast("bigint")
            ).alias("n_bound_violations"),
            F.sum(
                (
                    F.col("yhat").isNull()
                    | F.col("yhat_lower").isNull()
                    | F.col("yhat_upper").isNull()
                ).cast("bigint")
            ).alias("n_null_cells"),
        )
        .crossJoin(
            F.broadcast(
                per.agg(
                    F.min("n").alias("rows_per_series_min"),
                    F.max("n").alias("rows_per_series_max"),
                )
            )
        )
        .select(
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_series").cast("bigint").alias("n_series"),
            "min_ds",
            "max_ds",
            F.col("rows_per_series_min").cast("bigint").alias("rows_per_series_min"),
            F.col("rows_per_series_max").cast("bigint").alias("rows_per_series_max"),
            F.col("n_bound_violations").cast("bigint").alias("n_bound_violations"),
            F.col("n_null_cells").cast("bigint").alias("n_null_cells"),
        )
    )


_FORECAST_SCALE_AUDIT_SQL = f"""
SELECT CAST({N_SCALE_SERIES} * 7 AS BIGINT) AS n_rows,
  CAST({N_SCALE_SERIES} AS BIGINT) AS n_series,
  DATE '2024-01-31' AS min_ds,
  DATE '2024-02-06' AS max_ds,
  CAST(7 AS BIGINT) AS rows_per_series_min,
  CAST(7 AS BIGINT) AS rows_per_series_max,
  CAST(0 AS BIGINT) AS n_bound_violations,
  CAST(0 AS BIGINT) AS n_null_cells
"""


def q_forecast_multi_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed contract for the one-job multi-table forecast: per
    (table, metric) series, the long output carries exactly
    history-axis + interval rows spanning [min history day, max history
    day + interval], with ordered uncertainty bounds — i.e. the
    architecture headline (every series of every table in ONE shuffle)
    preserves each series' R7/M3 axis. DuckDB recomputes both tables'
    axes directly."""
    fc = q_forecast_multi_table(spark, sf_dir)
    viol = (
        (F.col("yhat_lower") > F.col("yhat")) | (F.col("yhat") > F.col("yhat_upper"))
    ).cast("bigint")
    return (
        fc.groupBy("table", "metric")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(F.col("ds").cast("date")).alias("min_ds"),
            F.max(F.col("ds").cast("date")).alias("max_ds"),
            F.sum(viol).cast("bigint").alias("n_bound_violations"),
        )
        .orderBy("table", "metric")
    )


def q_forecast_incremental_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashed contract for the incremental refit: the grown series
    (order_count) carries the FULL history axis + interval while the
    untouched series (total_revenue) still carries its pre-cutoff axis +
    interval — i.e. the operator really did refit only the changed series
    and reuse the prior forecast. Axes recomputed by DuckDB from orders."""
    fc = q_forecast_incremental(spark, sf_dir)
    viol = (
        (F.col("yhat_lower") > F.col("yhat")) | (F.col("yhat") > F.col("yhat_upper"))
    ).cast("bigint")
    return (
        fc.groupBy("metric")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(F.col("ds").cast("date")).alias("min_ds"),
            F.max(F.col("ds").cast("date")).alias("max_ds"),
            F.sum(viol).cast("bigint").alias("n_bound_violations"),
        )
        .orderBy("metric")
    )


_FORECAST_INCR_AUDIT_SQL = """
WITH full_axis AS (
  SELECT CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) + 7 AS BIGINT) AS n_rows,
    MIN(CAST(o_orderdate AS DATE)) AS min_ds,
    MAX(CAST(o_orderdate AS DATE)) + 7 AS max_ds
  FROM orders),
cut_axis AS (
  SELECT CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) + 7 AS BIGINT) AS n_rows,
    MIN(CAST(o_orderdate AS DATE)) AS min_ds,
    MAX(CAST(o_orderdate AS DATE)) + 7 AS max_ds
  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '2000-01-01')
SELECT 'order_count' AS metric, n_rows, min_ds, max_ds,
  CAST(0 AS BIGINT) AS n_bound_violations FROM full_axis
UNION ALL
SELECT 'total_revenue', n_rows, min_ds, max_ds, CAST(0 AS BIGINT) FROM cut_axis
ORDER BY metric
"""


def q_forecast_backtest_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed contract for the rolling-origin backtest: the (cutoff,
    metric) grid is complete, each cell scored exactly the held-out days
    inside (cutoff, cutoff+7] that exist in history, and the metric
    identities that hold for ANY model (mae >= 0, rmse >= mae, coverage
    in [0,1]) are emitted as hashed verdicts."""
    bt = q_forecast_backtest(spark, sf_dir)
    return bt.select(
        "metric",
        "cutoff",
        F.col("n_scored").cast("bigint").alias("n_scored"),
        (F.col("mae") >= 0).alias("mae_nonneg"),
        (F.col("rmse") >= F.col("mae")).alias("rmse_dominates_mae"),
        ((F.col("coverage") >= 0) & (F.col("coverage") <= 1)).alias("coverage_in_01"),
    ).orderBy("metric", "cutoff")


_FORECAST_BT_AUDIT_SQL = """
WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders),
cells AS (
  SELECT m.metric, c.cutoff,
    CAST((SELECT COUNT(*) FROM days
          WHERE d > CAST(c.cutoff AS DATE)
            AND d <= CAST(c.cutoff AS DATE) + 7) AS BIGINT) AS n_scored
  FROM (SELECT unnest(['order_count', 'total_revenue']) AS metric) m
  CROSS JOIN (SELECT unnest(['2000-06-01', '2000-09-01']) AS cutoff) c)
SELECT metric, cutoff, n_scored,
  TRUE AS mae_nonneg, TRUE AS rmse_dominates_mae, TRUE AS coverage_in_01
FROM cells ORDER BY metric, cutoff
"""


_FORECAST_MULTI_AUDIT_SQL = """
WITH o AS (
  SELECT CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) + 7 AS BIGINT) AS n_rows,
    MIN(CAST(o_orderdate AS DATE)) AS min_ds,
    MAX(CAST(o_orderdate AS DATE)) + 7 AS max_ds
  FROM orders),
e AS (
  SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) + 7 AS BIGINT) AS n_rows,
    MIN(CAST(ts AS DATE)) AS min_ds,
    MAX(CAST(ts AS DATE)) + 7 AS max_ds
  FROM events)
SELECT 'events_daily' AS "table", 'event_count' AS metric,
  n_rows, min_ds, max_ds, CAST(0 AS BIGINT) AS n_bound_violations FROM e
UNION ALL
SELECT 'events_daily', 'total_value', n_rows, min_ds, max_ds, CAST(0 AS BIGINT) FROM e
UNION ALL
SELECT 'orders_daily', 'order_count', n_rows, min_ds, max_ds, CAST(0 AS BIGINT) FROM o
UNION ALL
SELECT 'orders_daily', 'total_revenue', n_rows, min_ds, max_ds, CAST(0 AS BIGINT) FROM o
ORDER BY "table", metric
"""


