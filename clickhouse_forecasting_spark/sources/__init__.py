"""Source readers: schema-normalizing parquet ingestion.

The engine's canonical source is parquet datasets (catalog.py). This module
adds the ingestion quirks a heterogeneous lake needs:

- **nanosecond timestamps**: parquet TIMESTAMP(NANOS) predates Spark's
  reader support; ``spark.sql.legacy.parquet.nanosAsLong`` reads them as
  int64 nanos and :func:`read_table` converts to microsecond timestamps
  (floor division — the same truncation DuckDB applies), so downstream
  operators see plain TimestampType everywhere.
- all other columns pass through untouched; the normalization is pure
  column expression (no data pass, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import read_parquet

# event-time columns to normalize to TimestampType, per table. Fixture
# generations have shipped both TIMESTAMP(NANOS) (read as int64 under
# nanosAsLong) and TIMESTAMP(MICROS) without isAdjustedToUTC (read as
# TIMESTAMP_NTZ); both land on plain TimestampType here.
_NANO_TS_COLUMNS = {"events": ["ts"]}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet`` with timestamp normalization.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` on every read, although
    ``session.build_session`` sets it too: ``__spark_entry__.queries()``
    runs in the caller's own session, which sets only the time zone, and
    without the flag Spark refuses to read a TIMESTAMP(NANOS) column."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLUMNS.get(name, []):
        field = df.schema[col] if col in df.columns else None
        if field is not None and isinstance(field.dataType, T.LongType):
            # int64 nanos -> µs timestamp. True FLOOR division (DuckDB's
            # cast semantics): `div` truncates toward zero, which differs
            # from floor by 1µs for negative (pre-1970) nanos, so subtract
            # the non-negative pmod remainder first — exact at int64 range.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"({col} - pmod({col}, 1000)) div 1000")
                ),
            )
        elif field is not None and isinstance(field.dataType, T.TimestampNTZType):
            # µs-precision naive timestamp: with the UTC session timezone
            # (session.py) this cast is a pure reinterpretation — the same
            # wall-clock instants DuckDB sees on its naive timestamps.
            df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df
