"""Toy-size smoke run of the benchmark's workloads and output checks.

    python3 perfbench/smoke.py [--seed N]

Run from the root of a source checkout. One Spark session runs a catalog
of 2 tables x 2 metrics x 60 days through the forecast pipeline and one
registered query over a scale-0.001 star, checks both outputs as the
benchmark does, then tampers with each output and checks again:

- the first forecast table gets its first metric's ``_min`` and ``_max``
  columns swapped, which the interval check must count as failed;
- one value of the query result is changed, which the oracle hash must
  count as failed.

Prints one JSON line and exits 0 only if the clean outputs pass and both
tampered outputs are counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

import inputs
import run

TABLES, METRICS, DAYS = 2, 2, 60
QUERY = "allocation_proration"


def swap_bounds(dataset: str, metric: str) -> None:
    """Rewrite a Spark parquet dataset with ``metric``'s _min/_max swapped."""
    table = pq.read_table(dataset)
    lo, hi = table.column(f"{metric}_min"), table.column(f"{metric}_max")
    table = table.set_column(table.schema.get_field_index(f"{metric}_min"), f"{metric}_min", hi)
    table = table.set_column(table.schema.get_field_index(f"{metric}_max"), f"{metric}_max", lo)
    shutil.rmtree(dataset)
    os.makedirs(dataset)
    pq.write_table(table, os.path.join(dataset, "part-00000.parquet"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="toy-size benchmark smoke run")
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args(argv)

    from checks import check_catalog, result_hash, sample_series
    from clickhouse_forecasting_spark.catalog import forecast_table_name
    from clickhouse_forecasting_spark.queries import SPARK_QUERIES

    work = os.path.join(run.ROOT, ".perfbench-work", f"smoke-{os.getpid()}")
    try:
        run.size_host(work)
        db, star = os.path.join(work, "db"), os.path.join(work, "star")
        names = inputs.write_catalog(db, args.seed, "bucket_smoke", TABLES, METRICS, DAYS)
        inputs.write_star(star, args.seed, 0.001, 50, (8, 40))
        spec = {"kind": "catalog", "prefix": "bucket_smoke", "tables": TABLES, "metrics": METRICS}
        tables = {t: run.metric_names(spec) for t in names}

        spark = run.start_spark()
        try:
            run.warm_up(spark, os.path.join(db, f"{names[0]}.parquet"))
            cat = run.run_catalog(spark, spec, db, None)
            df = SPARK_QUERIES[QUERY](spark, star)
            rows = [tuple(r) for r in df.collect()]
            cols = df.columns
        finally:
            run.stop_spark(spark)

        def catalog_failed() -> int:
            sample = sample_series(args.seed, tables, len(names) * METRICS)
            return len(check_catalog(db, tables, run.INTERVAL, DAYS, cat["counters"], sample))

        def query_failed(result_rows: list[tuple]) -> int:
            res = {"passes": [{QUERY: {"hash": result_hash(cols, result_rows)}}]}
            return run.query_outcome(res, star)[1]

        clean_catalog, clean_query = catalog_failed(), query_failed(rows)
        swap_bounds(os.path.join(db, f"{forecast_table_name(names[0])}.parquet"), "m000")
        tampered = list(rows)
        tampered[0] = (*tampered[0][:-1], tampered[0][-1] + 1)
        report = {
            "catalog_clean_failed": clean_catalog,
            "catalog_tampered_failed": catalog_failed(),
            "query_clean_failed": clean_query,
            "query_tampered_failed": query_failed(tampered),
            "query_rows": len(rows),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ok = (
        report["catalog_clean_failed"] == 0
        and report["query_clean_failed"] == 0
        and report["catalog_tampered_failed"] > 0
        and report["query_tampered_failed"] > 0
    )
    print(json.dumps({"ok": ok, **report}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
