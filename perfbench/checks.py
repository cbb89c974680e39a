"""Output checks, run outside the timed section.

Catalog workloads: each ``bucket_forecast_<t>`` dataset is read back with
DuckDB and checked for row count, column order, the interval invariant
``m_min <= m <= m_max`` and all-NULL metrics; a seeded sample of series is
hashed against ``forecast.model.batched_fit_predict_long`` called in this
process. Query workloads: every collected result is hashed against its
``oracle_sql()`` DuckDB twin. Both hash with ``tools/check_oracle.frame_hash``.

Every check returns the set of operations it failed, so the caller can
count them into ``failed``.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from check_oracle import frame_hash  # tools/ is put on sys.path by run.py

from clickhouse_forecasting_spark.catalog import forecast_table_name
from clickhouse_forecasting_spark.forecast.model import batched_fit_predict_long
from clickhouse_forecasting_spark.relational import sink_column_order
from clickhouse_forecasting_spark.schema import DATE_AXIS_COLUMN
from clickhouse_forecasting_spark.telemetry import RunCounters


def long_frame(root: str, table: str, metrics: list[str]) -> pd.DataFrame:
    """Source table as the fitter's long input (metric, ds, y)."""
    wide = pq.read_table(os.path.join(root, f"{table}.parquet")).to_pandas()
    long = wide.melt(id_vars=[DATE_AXIS_COLUMN], value_vars=metrics, var_name="metric", value_name="y")
    return long.rename(columns={DATE_AXIS_COLUMN: "ds"})[["metric", "ds", "y"]]


def expected_rows(root: str, table: str, metric: str, interval: int) -> list[tuple]:
    """In-process forecast of one series, as (ds, value, min, max) rows."""
    pdf = long_frame(root, table, [metric])
    out = batched_fit_predict_long(pdf, ["metric"], periods=interval)
    return list(out[["ds", "yhat", "yhat_lower", "yhat_upper"]].itertuples(index=False, name=None))


def check_catalog(
    root: str,
    tables: dict[str, list[str]],
    interval: int,
    history_days: int,
    counters: RunCounters,
    sample: list[tuple[str, str]],
) -> set[tuple[str, str]]:
    """Failed (table, metric) series of a finished catalog run.

    ``tables`` maps source table -> metric columns; ``counters`` is the
    run's ``RunCounters``; ``sample`` lists the series whose values are
    hashed against an in-process fit."""
    failed: set[tuple[str, str]] = set()
    for t, metrics in tables.items():
        if t not in counters.successful or t in counters.failed:
            failed.update((t, m) for m in metrics)
        failed.update((t, m) for m in counters.failed_metrics.get(t, []))
    con = duckdb.connect()
    try:
        for t, metrics in tables.items():
            glob = os.path.join(root, f"{forecast_table_name(t)}.parquet", "*.parquet")
            try:
                rel = con.sql(f"SELECT * FROM read_parquet('{glob}')")
                cols = rel.columns
                (n_rows,) = con.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()
            except duckdb.Error:
                failed.update((t, m) for m in metrics)
                continue
            if n_rows != history_days + interval or cols != sink_column_order(metrics):
                failed.update((t, m) for m in metrics)
                continue
            probes = ", ".join(
                f"count(*) FILTER (WHERE {m}_min > {m} OR {m} > {m}_max), count({m})"
                for m in metrics
            )
            row = con.sql(f"SELECT {probes} FROM read_parquet('{glob}')").fetchone()
            for i, m in enumerate(metrics):
                if row[2 * i] != 0 or row[2 * i + 1] == 0:
                    failed.add((t, m))
        for t, m in sample:
            if (t, m) in failed:
                continue  # includes every series of an unreadable table
            glob = os.path.join(root, f"{forecast_table_name(t)}.parquet", "*.parquet")
            cols = ["ds", "v", "lo", "hi"]
            got = con.sql(f"SELECT date, {m}, {m}_min, {m}_max FROM read_parquet('{glob}')").fetchall()
            if frame_hash(cols, got) != frame_hash(cols, expected_rows(root, t, m, interval)):
                failed.add((t, m))
    finally:
        con.close()
    return failed


def sample_series(seed: int, tables: dict[str, list[str]], k: int) -> list[tuple[str, str]]:
    series = [(t, m) for t, ms in tables.items() for m in ms]
    rng = np.random.default_rng([seed, 11])
    pick = rng.choice(len(series), size=min(k, len(series)), replace=False)
    return [series[i] for i in sorted(pick)]


def oracle_hashes(data_dir: str, sqls: dict[str, str], tables: list[str]) -> dict[str, str]:
    """Hash of each oracle query's DuckDB result over ``data_dir``."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            out[name] = frame_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def result_hash(columns: list[str], rows: list) -> str:
    return frame_hash(columns, [tuple(r) for r in rows])
