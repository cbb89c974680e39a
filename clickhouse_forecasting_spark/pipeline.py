"""Catalog orchestration — the engine's equivalent of the reference main().

Reproduces the observable run semantics of forecast_script.py:220-247:
enumerate tables (or take an explicit list), skip derived
``bucket_forecast_*`` tables, derive the output schema from the type filter,
drop+recreate the forecast table, fit+predict every metric, sink wide rows
keyed by date, and log a run summary.

Execution shape: the reference loops one table at a time, and a per-table
loop pays Spark job latency per table (an emptiness probe, the write, a
readback), which dominates the run at small model cost. Here a run is
three steps:

1. vet every table on the driver (name, existence, date axis, metric
   columns — schema only);
2. unpivot every candidate table, union the long frames keyed by
   ``table`` and fit them in ONE keyed ``mapInPandas`` stage
   (``SeriesForecaster.transform_long(group_cols=["table"])``) as wide as
   ``series_proportional_fanout`` of the run's series; the result is
   persisted, and one aggregate over it both materialises it
   and yields the per-(table, metric) forecast counts. Each table's
   input row count is observed (``DataFrame.observe``) on its source
   branch in the same job;
3. pivot and write each non-empty table from the persisted frame, the
   writes submitted from a thread pool of min(#tables, defaultParallelism)
   whose threads inherit the caller's Spark local properties.

Per table that is at most the write's two jobs: the write, and the pivot's
one shuffle, which a one-partition fit output (up to 192 series) does not
need; per run, the fit's one aggregate. Vetting reads each input's
schema from its parquet footer (``catalog.read_parquet``), with no job. No
emptiness probe and no readback of the written table run.

Differences by design (all documented in SURVEY §7.5 / §2.5):
- the non-``bucket_`` naming crash of the reference (:156) is fixed — the
  C6 rule (catalog.forecast_table_name) is used everywhere;
- counters are disjoint and folded in input order, so they and the summary
  line do not depend on write completion order; failed metrics are reported
  per table.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .catalog import ParquetCatalog, forecast_table_name, is_forecast_output
from .forecast import SeriesForecaster
from .forecast.forecaster import series_proportional_fanout, wide_to_long
from .relational import ordered_for_sink, pivot_forecasts_wide
from .schema import DATE_AXIS_COLUMN, metric_columns, skipped_columns
from .telemetry import RunCounters

logger = logging.getLogger("clickhouse_forecasting_spark")


def _vet_table(catalog: ParquetCatalog, table: str) -> tuple[str, DataFrame | None, list[str]]:
    """Driver-side checks of one input table: (status, frame, metrics).
    status is skipped | failed | candidate; only a candidate has a frame."""
    if is_forecast_output(table):  # R14 (forecast_script.py:234-236)
        return "skipped", None, []
    logger.info("processing table %s", table)
    if not catalog.table_exists(table):
        logger.warning("table %s does not exist", table)
        return "failed", None, []
    df = catalog.table(table)
    if DATE_AXIS_COLUMN not in df.columns:
        # input contract: a `date` axis column is required (README.md:33)
        logger.warning("table %s has no '%s' column", table, DATE_AXIS_COLUMN)
        return "failed", None, []
    for name, typ in skipped_columns(df.schema):
        logger.info("skipping column with non-forecastable type: %s: %s", name, typ)
    metrics = metric_columns(df.schema)
    if not metrics:
        logger.warning("no forecastable columns in %s", table)
        return "failed", None, []
    return "candidate", df, metrics


def _catalog_forecasts(
    forecaster: SeriesForecaster, candidates: dict[str, tuple[DataFrame, list[str]]]
) -> tuple[DataFrame, dict[str, Observation]]:
    """Every candidate table unpivoted, unioned under a ``table`` key and
    fitted in one stage: the long forecast frame (table, metric, ds, yhat,
    yhat_lower, yhat_upper) and, per table, an observation of its source
    row count, filled by the frame's first action."""
    observed: dict[str, Observation] = {}
    branches = []
    for t, (df, metrics) in candidates.items():
        observed[t] = Observation()
        src = df.observe(observed[t], F.count(F.lit(1)).alias("rows"))
        branches.append(wide_to_long(src, metrics, keys=(F.lit(t).alias("table"),)))
    long_df = reduce(DataFrame.unionByName, branches)
    return forecaster.transform_long(long_df, group_cols=["table"]), observed


def _process_table(
    catalog: ParquetCatalog, forecasts: DataFrame, table: str, metrics: list[str]
) -> None:
    """Pivot one table's forecasts out of the run's long forecast frame and
    sink them to ``bucket_forecast_*`` (drop + recreate, clustered by date)."""
    wide = pivot_forecasts_wide(forecasts.filter(F.col("table") == table), metrics)
    catalog.write_table(
        ordered_for_sink(wide, metrics), forecast_table_name(table), order_by=DATE_AXIS_COLUMN
    )


def _sink_tables(
    catalog: ParquetCatalog,
    forecasts: DataFrame,
    metrics: dict[str, list[str]],
) -> dict[str, bool]:
    """Write every table of ``metrics`` (table -> its metrics) from a thread
    pool of min(#tables, defaultParallelism). The pool threads inherit the
    caller's Spark local properties (job group, scheduler pool). Returns,
    per table, whether its output existed before the write."""
    existed: dict[str, bool] = {}

    def _sink(group: list[str]) -> None:
        for t in group:
            out_name = forecast_table_name(t)
            existed[t] = catalog.table_exists(out_name)
            _process_table(catalog, forecasts, t, metrics[t])
            logger.info("wrote %s", out_name)

    # tables sharing an output name are written by one task, in input order
    groups: dict[str, list[str]] = {}
    for t in metrics:
        groups.setdefault(forecast_table_name(t), []).append(t)
    if groups:
        width = min(len(groups), catalog.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=width) as pool:
            futures = [
                pool.submit(inheritable_thread_target(catalog.spark)(_sink), g)
                for g in groups.values()
            ]
            for f in futures:
                f.result()
    return existed


def run_forecast_pipeline(
    catalog: ParquetCatalog,
    interval: int,
    specific_tables: list[str] | None = None,
    only_future: bool = False,
    backend: str = "auto",
) -> RunCounters:
    """Forecast every table of the catalog (or ``specific_tables``) into
    its ``bucket_forecast_*`` table; returns the run's counters.

    A skipped, missing, date-less, metric-less or empty table fails alone
    and gets no output. A metric whose series failed is listed in
    ``failed_metrics``; its sink columns are all NULL. One INFO record per
    fitted table reads ``table=… rows=… series=… failed=… out=…``: input
    rows, metric series, series without a forecast, and the table written
    (``-`` when none). The run leaves ``runtime_cache`` untouched."""
    counters = RunCounters()
    tables = specific_tables if specific_tables else catalog.list_tables()

    # R15 exact-membership selection happens in the `tables` assignment
    # above (the reference's substring-membership quirk at :231 is a
    # documented deviation — we take the explicit list as-is). A name
    # listed twice is fitted and written once, and counted twice.
    status: dict[str, str] = {}
    candidates: dict[str, tuple[DataFrame, list[str]]] = {}
    for t in tables:
        if t not in status:
            status[t], df, metrics = _vet_table(catalog, t)
            if df is not None:
                candidates[t] = (df, metrics)

    failed_metrics: dict[str, list[str]] = {}  # per table to write
    existed: dict[str, bool] = {}
    if candidates:
        forecaster = SeriesForecaster(
            interval=interval,
            only_future=only_future,
            backend=backend,
            fanout_partitions=series_proportional_fanout(
                sum(len(metrics) for _, metrics in candidates.values())
            ),
        )
        forecasts, observed = _catalog_forecasts(forecaster, candidates)
        forecasts.persist()
        try:
            # the fit's one action: it fills the cache and the observations.
            # M4 surfacing: a failed series has no forecast rows
            per_series = forecasts.groupBy("table", "metric").agg(F.count("yhat").alias("n"))
            counts = {(r["table"], r["metric"]): r["n"] for r in per_series.collect()}
            for t, (_, metrics) in candidates.items():
                rows = observed[t].get["rows"]
                failed = [m for m in metrics if counts.get((t, m), 0) == 0]
                if rows == 0:  # R3 (forecast_script.py:160-163)
                    logger.warning("missing data in %s", t)
                    status[t] = "failed"
                else:
                    status[t] = "ok"
                    failed_metrics[t] = failed
                    if failed:
                        logger.error("series failed for %s: %s", t, failed)
                logger.info(
                    "table=%s rows=%d series=%d failed=%d out=%s",
                    t, rows, len(metrics), len(failed), forecast_table_name(t) if rows else "-",
                )
            existed = _sink_tables(
                catalog, forecasts, {t: candidates[t][1] for t in failed_metrics}
            )
        finally:
            forecasts.unpersist()

    for t in tables:
        if status[t] == "skipped":
            counters.skipped.append(t)
        elif status[t] == "failed":
            counters.failed.append(t)
        else:
            if failed_metrics[t]:
                counters.failed_metrics[t] = failed_metrics[t]
            (counters.updated if existed[t] else counters.new).append(t)
            counters.successful.append(t)

    logger.info(counters.summary())
    return counters
