from pyspark.sql import types as T

from clickhouse_forecasting_spark.schema import (
    forecast_output_schema,
    is_forecastable_type,
    metric_columns,
    skipped_columns,
)


def test_skip_list_mapping():
    # R2 semantics of forecast_script.py:68,112 mapped to Spark types
    assert is_forecastable_type(T.DoubleType())
    assert is_forecastable_type(T.LongType())
    assert is_forecastable_type(T.DecimalType(18, 2))
    assert is_forecastable_type(T.DateType())
    assert is_forecastable_type(T.TimestampType())
    assert not is_forecastable_type(T.StringType())
    assert not is_forecastable_type(T.BooleanType())
    assert not is_forecastable_type(T.BinaryType())
    assert not is_forecastable_type(T.ArrayType(T.IntegerType()))
    assert not is_forecastable_type(T.MapType(T.StringType(), T.DoubleType()))


def test_metric_columns_excludes_axis_by_name():
    schema = T.StructType(
        [
            T.StructField("date", T.DateType()),
            T.StructField("visits", T.LongType()),
            T.StructField("bounce_rate", T.DoubleType()),
            T.StructField("note", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("active", T.BooleanType()),
        ]
    )
    assert metric_columns(schema) == ["visits", "bounce_rate"]
    assert [n for n, _ in skipped_columns(schema)] == ["note", "tags", "active"]


def test_forecast_output_schema_interleaved_trios():
    s = forecast_output_schema(["a", "b"])
    assert [f.name for f in s.fields] == ["date", "a", "a_min", "a_max", "b", "b_min", "b_max"]
    assert all(isinstance(f.dataType, T.DoubleType) for f in s.fields[1:])
