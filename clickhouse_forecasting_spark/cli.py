"""CLI surface parity (SURVEY S2, forecast_script.py:249-270).

    python -m clickhouse_forecasting_spark.cli <db_path> <interval> \
        [<specific_tables>] [--only-future]

db_path is a directory of parquet tables (the engine's database namespace,
see catalog.py) rather than a ClickHouse DSN; everything else matches the
reference's argparse contract: interval = forecast horizon in days,
specific_tables = comma-separated table subset, --only-future = emit
strictly-future rows only.
"""

from __future__ import annotations

import argparse

from .catalog import ParquetCatalog
from .pipeline import run_forecast_pipeline
from .session import build_session
from .telemetry import configure_logging, install_excepthook


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description="Create forecasts for every table in a parquet database.",
        usage="python -m clickhouse_forecasting_spark.cli <db_path> <interval> [<specific_tables>] [--only-future]",
    )
    parser.add_argument("db_path", help="directory containing <table>.parquet datasets")
    parser.add_argument("interval", type=int, help="forecast horizon in days")
    parser.add_argument("specific_tables", nargs="?", default=None, help="comma-separated table subset")
    parser.add_argument("--only-future", action="store_true", help="emit only strictly-future rows")
    parser.add_argument("--backend", default="auto", choices=["auto", "prophet", "fourier_ridge"])
    args = parser.parse_args(argv)

    logger = configure_logging()
    install_excepthook(logger)
    spark = build_session()
    catalog = ParquetCatalog(spark, args.db_path)
    tables = args.specific_tables.split(",") if args.specific_tables else None
    counters = run_forecast_pipeline(
        catalog, args.interval, specific_tables=tables, only_future=args.only_future,
        backend=args.backend,
    )
    print(counters.summary())
    return 0 if not counters.failed else 1


if __name__ == "__main__":
    raise SystemExit(main())
