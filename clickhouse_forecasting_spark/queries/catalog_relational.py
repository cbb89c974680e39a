"""Declared query registry — the oracle-checked operator inventory.

Every operator from SURVEY §2 (and every BASELINE.json extension) appears
here as a named pair:

    SPARK[name]  : (spark, sf_dir) -> DataFrame      (the engine under test)
    ORACLE[name] : ANSI SQL string for DuckDB        (the reference answer)

Determinism rules that make cross-engine value-hash equality exact:

- **Sums over doubles are order-dependent** -> every aggregated measure is
  summed as DECIMAL(38,10) (exact, commutative) and cast to DOUBLE at the
  end; averages are exact-decimal-sum / count divided in double. The same
  expression shape is used on both sides, so results are bit-identical.
- **Array folds** (dot products, list sums) run left-to-right in array order
  in both engines (Spark ``aggregate``, DuckDB ``list_sum`` over
  ``list_transform``) -> identical IEEE results; cosines additionally
  rounded to 1e-6 to be safe against library-internal reassociation.
- **Hashing for dedup** uses md5 hex strings (identical in every engine);
  min/ordering over them is plain lexicographic.
- **Every top-k** has a total-order tie-break on an id column.
- Session timezone is UTC (session.py) so timestamp->date agrees with
  DuckDB's naive timestamps.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import ParquetCatalog, forecast_table_name
from ..forecast import SeriesForecaster
from ..functions import dedup as DD
from ..functions import similarity as SIM
from ..functions import lm as LM
from ..functions import text as TX
from ..functions.text import STOPWORDS
from .. import multimodal as MM
from ..operators import asof as AsOf
from ..operators import packing as PK
from ..operators import range_join as RJ
from ..operators import ranking as RK
from ..relational import daily_rollup, future_date_axis, gap_fill, only_future
from ..schema import metric_columns
from ..sources import read_table

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _dsum(col: F.Column) -> F.Column:
    """Order-independent exact sum of a double measure -> double."""
    return F.sum(col.cast("decimal(38,10)")).cast("double")


def _dsum_cents(col: F.Column) -> F.Column:
    """Money sum rounded to cents AFTER the double cast. Needed whenever
    the total can exceed ~9e5: scaled by 1e10 that passes 2^53, where
    DuckDB's decimal->double (int128 -> double, then /1e10) lands one ulp
    away from Spark's conversion; rounding to the (exact) cent grid makes
    both engines emit the identical double."""
    return F.round(F.sum(col.cast("decimal(38,10)")).cast("double"), 2)


# --------------------------------------------------------------------------
# catalog / schema operators (SURVEY §2.1)
# --------------------------------------------------------------------------


def q_c1_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = ParquetCatalog(spark, sf_dir).list_tables()
    return spark.createDataFrame([(n,) for n in names], "table_name string")


_C1_SQL = "SELECT * FROM (VALUES " + ", ".join(f"('{t}')" for t in sorted(TABLES)) + ") AS t(table_name)"


def q_c2_describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ParquetCatalog(spark, sf_dir).describe("lineitem")
    return spark.createDataFrame(pairs, "column_name string, data_type string")


_C2_SQL = (
    "SELECT * FROM (VALUES "
    "('l_orderkey','bigint'),('l_partkey','bigint'),('l_suppkey','bigint'),"
    "('l_linenumber','int'),('l_quantity','double'),('l_extendedprice','double'),"
    "('l_discount','double'),('l_tax','double'),('l_returnflag','string'),"
    "('l_linestatus','string'),('l_shipdate','timestamp_ntz')"
    ") AS t(column_name, data_type)"
)


def q_c6_forecast_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = ParquetCatalog(spark, sf_dir).list_tables()
    return spark.createDataFrame(
        [(n, forecast_table_name(n)) for n in names], "table_name string, forecast_name string"
    )


_C6_SQL = (
    "SELECT table_name, 'bucket_forecast_' || regexp_replace(table_name, '^bucket_', '') AS forecast_name "
    "FROM (" + _C1_SQL + ")"
)


def q_c3_exists_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 EXISTS TABLE (forecast_script.py:128-129) as a driver-
    checkable census: the real filesystem probe (ParquetCatalog.
    table_exists) over every fixture table plus two names that must
    NOT exist — a derived-output name and a garbage name. The twin
    pins the expected flags, so a probe that lies either way breaks
    the hash."""
    cat = ParquetCatalog(spark, sf_dir)
    probes = sorted(TABLES) + ["bucket_forecast_orders", "no_such_table"]
    return spark.createDataFrame(
        [(p, cat.table_exists(p)) for p in probes],
        "table_name string, table_exists boolean",
    )


_C3_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{t}', true)" for t in sorted(TABLES))
    + ", ('bucket_forecast_orders', false), ('no_such_table', false)"
    ") AS t(table_name, table_exists)"
)


def q_c4_drop_create_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 DROP TABLE + C5 CREATE (forecast_script.py:127-145) as a
    driver-checkable census: the REAL effectful verbs run against a
    throwaway tempdir database (never the fixture dir), and the row
    set is the exists-flag trace — absent, created, recreated
    (overwrite semantics: still exactly one table), dropped. A drop
    that silently no-ops or a create that lands at the wrong path
    breaks the trace."""
    import datetime as _dt
    import tempfile

    from ..schema import forecast_output_schema

    sch = forecast_output_schema(["order_count"])
    df = spark.createDataFrame(
        [(_dt.date(2024, 1, 1), 1.0, 0.5, 1.5)], sch
    )
    steps: list[tuple[str, bool]] = []
    with tempfile.TemporaryDirectory() as tmp:
        cat = ParquetCatalog(spark, tmp)
        t = "bucket_forecast_daily_orders"
        steps.append(("1_before_create", cat.table_exists(t)))
        cat.write_table(df, t)
        steps.append(("2_after_create", cat.table_exists(t)))
        cat.write_table(df, t)  # drop+recreate == overwrite, still one
        steps.append(
            ("3_after_recreate", cat.table_exists(t) and len(cat.list_tables()) == 1)
        )
        cat.drop_table(t)
        steps.append(("4_after_drop", cat.table_exists(t)))
    return spark.createDataFrame(steps, "step string, table_exists boolean")


_C4_SQL = (
    "SELECT * FROM (VALUES ('1_before_create', false), "
    "('2_after_create', true), ('3_after_recreate', true), "
    "('4_after_drop', false)) AS t(step, table_exists)"
)


def q_c5_created_schema_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 typed CREATE (forecast_script.py:134-145) as a driver-
    checkable census: create a two-metric forecast output table in a
    tempdir via the real write path, then DESCRIBE the read-back
    parquet. The twin pins the full (position, name, type) layout —
    the interleaved (m, m_min, m_max) column rule and the date axis
    type are what the reference's CREATE TABLE statement encodes."""
    import datetime as _dt
    import tempfile

    from ..schema import forecast_output_schema

    sch = forecast_output_schema(["order_count", "revenue"])
    df = spark.createDataFrame(
        [(_dt.date(2024, 1, 1), 1.0, 0.5, 1.5, 9.0, 8.0, 10.0)], sch
    )
    with tempfile.TemporaryDirectory() as tmp:
        cat = ParquetCatalog(spark, tmp)
        cat.write_table(df, "bucket_forecast_t")
        pairs = cat.describe("bucket_forecast_t")
    return spark.createDataFrame(
        [(i + 1, n, t) for i, (n, t) in enumerate(pairs)],
        "position int, column_name string, data_type string",
    )


_C5_SQL = (
    "SELECT * FROM (VALUES "
    "(1,'date','date'),(2,'order_count','double'),"
    "(3,'order_count_min','double'),(4,'order_count_max','double'),"
    "(5,'revenue','double'),(6,'revenue_min','double'),"
    "(7,'revenue_max','double')"
    ") AS t(position, column_name, data_type)"
)


def q_r2_type_skip_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 as data: which events columns survive the type skip-list
    (event_type/props are string-typed -> skipped)."""
    schema = _t(spark, sf_dir, "events").schema
    cols = metric_columns(schema)
    return spark.createDataFrame([(c,) for c in cols], "column_name string")


_R2_SQL = "SELECT * FROM (VALUES ('event_id'),('ts'),('user_id'),('value')) AS t(column_name)"


# --------------------------------------------------------------------------
# relational operators (SURVEY §2.2)
# --------------------------------------------------------------------------


def q_r1_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


_R1_SQL = "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem"


def q_r4_cast_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select(F.to_date("o_orderdate").alias("date"))
        .distinct()
    )


_R4_SQL = "SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders"


def q_r5_max_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select(F.to_date("o_orderdate").alias("date"))
        .agg(F.max("date").alias("last_known_date"))
    )


_R5_SQL = "SELECT MAX(CAST(o_orderdate AS DATE)) AS last_known_date FROM orders"


def _orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_rollup(
        _t(spark, sf_dir, "orders"),
        "o_orderdate",
        [
            F.count("*").alias("order_count"),
            _dsum(F.col("o_totalprice")).alias("total_revenue"),
        ],
    )


_ORDERS_DAILY_SQL = (
    "SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS order_count, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS total_revenue "
    "FROM orders GROUP BY 1"
)


def q_daily_sales_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _orders_daily(spark, sf_dir)


def q_daily_shipping_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_rollup(
        _t(spark, sf_dir, "lineitem"),
        "l_shipdate",
        [
            _dsum(F.col("l_quantity")).alias("qty"),
            _dsum(F.col("l_extendedprice")).alias("extended_price"),
            (
                _dsum(F.col("l_discount")) / F.count("*")
            ).alias("avg_discount"),
        ],
    )


_SHIPPING_DAILY_SQL = (
    "SELECT CAST(l_shipdate AS DATE) AS date, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS extended_price, "
    "CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_discount "
    "FROM lineitem GROUP BY 1"
)


def q_r7_future_date_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _t(spark, sf_dir, "orders").select(F.to_date("o_orderdate").alias("date"))
    return future_date_axis(daily, periods=7)


_R7_SQL = (
    "WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS ds FROM orders), "
    "m AS (SELECT MAX(ds) AS mx FROM d) "
    "SELECT ds FROM d UNION ALL "
    "SELECT CAST(unnest(generate_series(mx + INTERVAL 1 DAY, mx + INTERVAL 7 DAY, INTERVAL 1 DAY)) AS DATE) AS ds FROM m"
)


def q_r8_only_future(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _t(spark, sf_dir, "orders").select(F.to_date("o_orderdate").alias("date"))
    axis = future_date_axis(daily, periods=7)
    last = daily.agg(F.max("date")).collect()[0][0]
    return only_future(axis, last)


_R8_SQL = (
    "WITH m AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders) "
    "SELECT CAST(unnest(generate_series(mx + INTERVAL 1 DAY, mx + INTERVAL 7 DAY, INTERVAL 1 DAY)) AS DATE) AS ds FROM m"
)


def q_r11_outer_join_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _orders_daily(spark, sf_dir).select("date", "order_count")
    b = q_daily_shipping_series(spark, sf_dir).select("date", "qty")
    return a.join(b, "date", "full_outer")


_R11_SQL = (
    "WITH a AS (SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS order_count FROM orders GROUP BY 1), "
    "b AS (SELECT CAST(l_shipdate AS DATE) AS date, CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS qty FROM lineitem GROUP BY 1) "
    "SELECT COALESCE(a.date, b.date) AS date, a.order_count, b.qty FROM a FULL OUTER JOIN b ON a.date = b.date"
)


def q_r10_r13_bounds_sink_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 derived bounds + R13 sink column order (date, cols, mins, maxs)."""
    daily = _orders_daily(spark, sf_dir)
    return daily.select(
        "date",
        F.col("total_revenue"),
        (F.col("total_revenue") * 0.9).alias("total_revenue_min"),
        (F.col("total_revenue") * 1.1).alias("total_revenue_max"),
    )


_R10_SQL = (
    "WITH d AS (" + _ORDERS_DAILY_SQL + ") "
    "SELECT date, total_revenue, total_revenue * 0.9 AS total_revenue_min, "
    "total_revenue * 1.1 AS total_revenue_max FROM d"
)


