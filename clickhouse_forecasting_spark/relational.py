"""Relational operators R1-R13 (SURVEY §2.2) as DataFrame combinators.

R1 (projection) and R4 (the date cast, undated rows dropped) live in
``forecast.forecaster.wide_to_long``, R3 (empty-input guard) in the
pipeline's observed row count, and R5 (last known date) per series inside
the fitter; this module holds the rest.

Each function is a thin, declarative combinator — the point is to hand
Catalyst a logical plan it can optimize (projection pruning into the parquet
scan, predicate pushdown, broadcast joins for small frames), never to
hand-schedule execution. Reference line citations point at the semantics
being reproduced, not code being translated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import DATE_AXIS_COLUMN


def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backtick-quoted, so dots, spaces
    and quotes are part of the name, never a struct path or a SQL token."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslash escapes)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# R6 — wide -> long model frame (forecast_script.py:172): all metrics at once,
# the spine of the distributed design (SURVEY §7.1) — one narrow projection
# replaces the reference's column loop.
def unpivot_metrics(
    df: DataFrame,
    metrics: list[str],
    ds: Column | None = None,
    keys: tuple[Column, ...] = (),
) -> DataFrame:
    """Wide table -> long (*keys, ds, metric, y) in ONE projection whose
    ``stack`` generator emits a (metric, CAST(metric AS DOUBLE)) row per
    metric; values never pass through Python and NULL cells are kept.
    ``ds`` replaces the plain date column (e.g. a date cast); ``keys`` are
    leading columns of the same projection (e.g. a table literal).

    Spark's built-in ``unpivot`` plans an ``Expand``, which outside
    whole-stage codegen (inputs wider than ``spark.sql.codegen.maxFields``)
    compiles one projection class per metric; ``stack`` is evaluated in
    place, so a wide table compiles no per-metric code. The generator is
    one SQL expression (one driver round trip, not several per metric);
    metric names enter it quoted and escaped."""
    if not metrics:
        raise ValueError("unpivot_metrics needs at least one metric")
    pairs = ", ".join(f"{sql_string(m)}, CAST({sql_ident(m)} AS DOUBLE)" for m in metrics)
    return df.select(
        *keys,
        (F.col(sql_ident(DATE_AXIS_COLUMN)) if ds is None else ds).alias("ds"),
        F.expr(f"stack({len(metrics)}, {pairs}) AS (metric, y)"),
    )


# R7 — date-axis generation (forecast_script.py:174, make_future_dataframe):
# observed history dates ∪ a generated daily future axis of `periods` days.
def future_date_axis(df: DataFrame, periods: int) -> DataFrame:
    """Distinct observed dates plus `periods` generated days after max(date).
    sequence+explode generates on the executors; no driver loop."""
    history = df.select(F.col(DATE_AXIS_COLUMN).alias("ds")).distinct()
    future = df.agg(F.max(DATE_AXIS_COLUMN).alias("d0")).select(
        F.explode(
            F.sequence(
                F.date_add(F.col("d0"), 1),
                F.date_add(F.col("d0"), periods),
                F.expr("interval 1 day"),
            )
        ).alias("ds")
    )
    return history.unionByName(future)


# R8 — strictly-after range filter (--only-future, forecast_script.py:175-176)
def only_future(df: DataFrame, last_date, ds_col: str = "ds") -> DataFrame:
    return df.filter(F.col(ds_col) > F.lit(last_date))


# R11/R12 — the reference's k-way full outer join of per-metric forecasts on
# the date axis with NULL fill (forecast_script.py:168,187-194,207-211), as
# one aggregation: the metric list is known (R2), so no join is needed.
def pivot_forecasts_wide(long_df: DataFrame, metrics: list[str]) -> DataFrame:
    """long (ds, metric, yhat, yhat_lower, yhat_upper) -> wide, in sink
    column order (date, m..., m_min..., m_max...; see sink_column_order).

    ONE aggregation: ``groupBy(ds)`` collects each metric's (yhat,
    yhat_lower, yhat_upper) into a map keyed by metric, and the map is
    projected straight into the sink columns. (``groupBy.pivot`` plans two
    aggregations, two exchanges.) A metric without a row for a date reads
    NULL there. A (ds, metric) pair present twice fails with Spark's
    ``DUPLICATED_MAP_KEY`` error instead of silently keeping one of its
    values."""
    wide = long_df.groupBy("ds").agg(
        F.map_from_entries(
            F.collect_list(F.struct("metric", F.struct("yhat", "yhat_lower", "yhat_upper")))
        ).alias("f")
    )
    # one SQL projection: a Column per sink column costs several driver
    # round trips each (~1.5 s for 128 metrics)
    cols = [f"ds AS {sql_ident(DATE_AXIS_COLUMN)}"] + [
        f"f[{sql_string(m)}].{field} AS {sql_ident(m + suffix)}"
        for field, suffix in (("yhat", ""), ("yhat_lower", "_min"), ("yhat_upper", "_max"))
        for m in metrics
    ]
    return wide.selectExpr(*cols)


# R13 — ordered sink projection: date, all cols, all _min, all _max
# (forecast_script.py:204). The reference's INSERT column order.
def sink_column_order(metrics: list[str]) -> list[str]:
    return [
        DATE_AXIS_COLUMN,
        *metrics,
        *[f"{m}_min" for m in metrics],
        *[f"{m}_max" for m in metrics],
    ]


def ordered_for_sink(df: DataFrame, metrics: list[str]) -> DataFrame:
    cols = sink_column_order(metrics)
    return df if df.columns == cols else df.selectExpr(*map(sql_ident, cols))


# Bonus combinator used by extension queries: strictly-typed daily rollup of a
# timestamp-keyed fact table into a forecast-shaped wide table.
def daily_rollup(df: DataFrame, ts_col: str, aggs: list[Column]) -> DataFrame:
    return (
        df.withColumn(DATE_AXIS_COLUMN, F.to_date(F.col(ts_col)))
        .groupBy(DATE_AXIS_COLUMN)
        .agg(*aggs)
    )


def date_spine(df: DataFrame) -> DataFrame:
    """Complete daily axis min(date)..max(date) — sequence+explode on the
    executors (one 2-value aggregate feeds it; no driver loop)."""
    axis = DATE_AXIS_COLUMN
    return df.agg(F.min(axis).alias("d0"), F.max(axis).alias("d1")).select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias(axis)
    )


def gap_fill(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """Fill missing dates of a daily series: join against the full date
    spine, then per value column linearly interpolate between the
    neighboring observations (trailing/leading gaps fall back to the
    nearest observed value).

    A time-series store's gap-filling operator (ClickHouse's WITH FILL /
    timescale's time_bucket_gapfill). All window passes share ONE
    range-shuffle on the axis; at 100 TB partition the window by a coarse
    date bucket (year) to bound task state."""
    from pyspark.sql import Window

    axis = DATE_AXIS_COLUMN
    spine = date_spine(df)
    joined = spine.join(df, axis, "left").withColumn(
        "_day", F.datediff(F.col(axis), F.lit("1970-01-01"))
    )
    w = Window.orderBy(axis)
    wprev = w.rowsBetween(Window.unboundedPreceding, 0)
    wnext = w.rowsBetween(0, Window.unboundedFollowing)
    out = joined
    for c in value_cols:
        prev_v = F.last(c, ignorenulls=True).over(wprev)
        next_v = F.first(c, ignorenulls=True).over(wnext)
        prev_d = F.last(
            F.when(F.col(c).isNotNull(), F.col("_day")), ignorenulls=True
        ).over(wprev)
        next_d = F.first(
            F.when(F.col(c).isNotNull(), F.col("_day")), ignorenulls=True
        ).over(wnext)
        interp = prev_v + (next_v - prev_v) * (F.col("_day") - prev_d) / (next_d - prev_d)
        out = out.withColumn(
            c,
            F.coalesce(F.col(c), interp, prev_v, next_v),
        )
    return out.drop("_day")
