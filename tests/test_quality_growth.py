"""Unit semantics for the one-pass expectations checker and the growth
accounting query (cross-engine values are covered by the oracle gate)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry
from clickhouse_forecasting_spark.functions.quality import check_expectations
from clickhouse_forecasting_spark.sources import read_table


def test_expectations_single_scan_and_null_as_violation(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None), (4, 5.0)], ["id", "v"]
    )
    out = check_expectations(
        df,
        {
            "v_positive": F.col("v") > 0,  # NULL row must count as violation
            "id_not_null": F.col("id").isNotNull(),
        },
    ).collect()
    res = {r.rule: r for r in out}
    assert res["v_positive"].n_violations == 2  # -1.0 and NULL
    assert res["id_not_null"].n_violations == 0
    assert all(r.n_rows == 4 for r in out)
    assert res["v_positive"].pass_rate == pytest.approx(0.5)
    # one-pass contract: a single aggregate, no per-rule jobs
    plan = check_expectations(
        df, {"a": F.col("v") > 0, "b": F.col("id") > 1}
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1


def test_orders_keys_unique_in_fixture(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    assert orders.groupBy("o_orderkey").count().filter(F.col("count") > 1).isEmpty()


def test_growth_accounting_identities(spark, sf_dir):
    qs = entry.queries()
    rows = sorted(
        qs["user_growth_accounting"](spark, sf_dir).collect(), key=lambda r: r.day
    )
    ev = read_table(spark, sf_dir, "events")
    total_users = ev.select("user_id").distinct().count()
    # cumulative is a running sum of new, monotone, ending at the universe
    running = 0
    for r in rows:
        running += r.new_users
        assert r.cumulative_users == running
        assert r.active_users == r.new_users + r.returning_users
        assert r.returning_users >= 0
    assert rows[-1].cumulative_users == total_users
    # day 1: everyone is new
    assert rows[0].returning_users == 0


def test_expectations_empty_input_reports_zero_violations(spark):
    import pyspark.sql.types as T

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("v", T.DoubleType())])
    )
    out = {r.rule: r for r in check_expectations(empty, {"pos": F.col("v") > 0}).collect()}
    assert out["pos"].n_rows == 0
    assert out["pos"].n_violations == 0  # NOT NULL — gates compare against 0


def test_expectations_rejects_bad_rule_sets(spark):
    df = spark.createDataFrame([(1,)], ["v"])
    with pytest.raises(ValueError):
        check_expectations(df, {})
    with pytest.raises(ValueError):
        check_expectations(df, {"bad'name": F.col("v") > 0})
    # arbitrary non-identifier names are fine (positional internal aliases)
    out = check_expectations(df, {"price > 0 (USD)": F.col("v") > 0}).collect()
    assert out[0].rule == "price > 0 (USD)" and out[0].n_violations == 0
