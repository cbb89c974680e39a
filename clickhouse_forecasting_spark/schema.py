"""Schema operators: type-driven column pruning + derived forecast schemas.

SURVEY §2 R2 and C5. The reference decides forecastability *negatively*: any
column whose ClickHouse type string contains a substring from SKIP_DATA_TYPES
is excluded (forecast_script.py:68,112); the ``date`` column is excluded from
metrics by *name* (:112,115). We express the same contract over Spark types:
the skip set {String, Text, Enum, Boolean, Blob, Binary, Array, JSON, UUID}
maps onto Spark's String/Boolean/Binary/Array/Map/Struct types; numeric,
date and timestamp types pass (Nullable(Float64) passes in the reference —
nullability is orthogonal in Spark too).

The derived forecast schema (C5, forecast_script.py:134-145) is
``date Date`` plus ``{col}, {col}_min, {col}_max`` per metric. The reference
inherits the *source* type for forecast columns, silently truncating float
predictions into integer columns (SURVEY §7.5); we compute in DoubleType and
only cast at the sink when ``inherit_types=True`` is requested.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Spark-type equivalent of the reference's SKIP_DATA_TYPES (forecast_script.py:68).
_SKIP_SPARK_TYPES: tuple[type, ...] = (
    T.StringType,  # String / Text / Enum / JSON-as-string / UUID-as-string
    T.CharType,
    T.VarcharType,
    T.BooleanType,  # Boolean
    T.BinaryType,  # Blob / Binary
    T.ArrayType,  # Array
    T.MapType,  # JSON-like
    T.StructType,  # JSON-like
    T.NullType,
)

DATE_AXIS_COLUMN = "date"


def is_forecastable_type(dt: T.DataType) -> bool:
    """True if a column of this type would survive the reference's skip-list."""
    return not isinstance(dt, _SKIP_SPARK_TYPES)


def metric_columns(schema: T.StructType) -> list[str]:
    """R2: metric columns = non-axis columns passing the type filter.

    Reference: get_columns_and_types, forecast_script.py:106-117. The axis
    column is excluded by name (:112), skipped columns are dropped silently
    here (the pipeline layer logs them, matching :115-116).
    """
    return [
        f.name
        for f in schema.fields
        if f.name != DATE_AXIS_COLUMN and is_forecastable_type(f.dataType)
    ]


def skipped_columns(schema: T.StructType) -> list[tuple[str, str]]:
    """(name, type) pairs rejected by the filter — for telemetry parity
    with the reference's skip log line (forecast_script.py:115-116)."""
    return [
        (f.name, f.dataType.simpleString())
        for f in schema.fields
        if f.name != DATE_AXIS_COLUMN and not is_forecastable_type(f.dataType)
    ]


def forecast_output_schema(metrics: list[str]) -> T.StructType:
    """C5 derived schema: date + DOUBLE (m, m_min, m_max) per metric.

    Column order matches the reference sink order: date, all cols, all _min,
    all _max (forecast_script.py:204) is the *insert* order; the *table*
    definition interleaves (col, col_min, col_max) (:135). We use the
    interleaved table-definition order, which is the schema users see.
    """
    fields = [T.StructField(DATE_AXIS_COLUMN, T.DateType(), False)]
    for m in metrics:
        fields.append(T.StructField(m, T.DoubleType(), True))
        fields.append(T.StructField(f"{m}_min", T.DoubleType(), True))
        fields.append(T.StructField(f"{m}_max", T.DoubleType(), True))
    return T.StructType(fields)
