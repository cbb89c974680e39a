"""Local stand-in for the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry through Spark AND its
oracle_sql() twin through DuckDB at a given sf_dir, then compares:
row count, column names (sorted), and an order-insensitive value hash
(rows canonicalized: columns sorted by name, floats formatted %.6f,
NULL sentinel, rows sorted).

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, decimal.Decimal):
        v = float(v)  # decimal results hash like their double twins
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x01".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from clickhouse_forecasting_spark.session import build_session

    spark = build_session("oracle-check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"FATAL: unknown query names: {sorted(unknown)}")
        return 2
    n_match = n_total = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_total += name in oracles  # a Spark-side error still counts
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            n_rows_only += 1
            print(f"rows  {name}: {len(rows)} rows [{dt:.1f}s] (rows-only check)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            failures.append(name)
            continue
        sh, oh = frame_hash(cols, rows), frame_hash(ocols, orows)
        ok_cols = sorted(cols) == sorted(ocols)
        ok = len(rows) == len(orows) and ok_cols and sh == oh
        if ok:
            n_match += 1
            print(f"OK    {name}: {len(rows)} rows, hash {sh} [{dt:.1f}s]")
        else:
            failures.append(name)
            print(
                f"FAIL  {name}: spark {len(rows)} rows cols={sorted(cols)} hash={sh} | "
                f"oracle {len(orows)} rows cols={sorted(ocols)} hash={oh}"
            )
    print(f"\n{n_match}/{n_total} oracle-matched, {n_rows_only} rows-only, failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
