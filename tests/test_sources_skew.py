"""Tests: sink writer, partition-scoped upsert, salted aggregation, AQE skew splitting."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.functions.skew import salted_agg, with_salt
from clickhouse_forecasting_spark.sources import read_table
from clickhouse_forecasting_spark.sources.formats import write_table


def test_write_table_partitioned_sorted(spark, sf_dir, tmp_path):
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_table(orders, path, sort_within_partitions="o_orderdate", partition_by="order_year")
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # partition pruning: a year filter must prune the file listing
    pruned = back.filter(F.col("order_year") == 1995)
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_year" in scan


def test_salted_agg_equals_direct(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    direct = {
        (r["l_returnflag"]): (r["n"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("s"))
        .collect()
    }
    salted = {
        (r["l_returnflag"]): (r["n"], r["s"])
        for r in salted_agg(
            li.select("l_returnflag", "l_quantity"),
            ["l_returnflag"],
            [
                F.count("*").alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("s"),
            ],
            lambda: [F.sum("n").alias("n"), F.sum("s").alias("s")],
        ).collect()
    }
    assert salted == direct


def test_salt_is_deterministic(spark, sf_dir):
    nation = read_table(spark, sf_dir, "nation")
    a = {tuple(r) for r in with_salt(nation).collect()}
    b = {tuple(r) for r in with_salt(nation).collect()}
    assert a == b
    assert all(0 <= r[-1] < 16 for r in a)


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    region = read_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_orc")
    write_table(region, path, fmt="orc")
    back = spark.read.orc(path)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in region.collect()
    )


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    import datetime as dt
    import os

    from clickhouse_forecasting_spark.sources.formats import upsert_partitioned

    path = str(tmp_path / "target")
    base = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), 10.0), (2, dt.date(2024, 1, 1), 20.0),
         (3, dt.date(2024, 1, 2), 30.0), (4, dt.date(2024, 1, 3), 40.0)],
        "id long, day date, val double",
    )
    base.write.partitionBy("day").parquet(path)

    untouched_dir = os.path.join(path, "day=2024-01-03")
    before = sorted(os.listdir(untouched_dir))
    before_mtimes = {f: os.path.getmtime(os.path.join(untouched_dir, f)) for f in before}

    updates = spark.createDataFrame(
        [(2, dt.date(2024, 1, 1), 99.0),   # replace existing key
         (5, dt.date(2024, 1, 2), 50.0)],  # brand-new key
        "id long, day date, val double",
    )
    upsert_partitioned(spark, updates, path, keys=["id"], partition_col="day")

    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0, 5: 50.0}
    # the untouched partition's files were not rewritten
    after = sorted(os.listdir(untouched_dir))
    assert after == before
    for f in after:
        assert os.path.getmtime(os.path.join(untouched_dir, f)) == before_mtimes[f]


def test_approx_distinct_error_bound(spark, sf_dir):
    from clickhouse_forecasting_spark.queries import SPARK_QUERIES

    rows = {
        r["event_type"]: r
        for r in SPARK_QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    }
    ev = read_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for t, n in exact.items():
        # the query now hashes the exact count plus the in-query 5%
        # tolerance verdict on the HLL estimate
        assert rows[t]["exact_users"] == n
        assert rows[t]["approx_within_5pct"], (t, n)


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join: a key holding ~half the fact rows must be split into
    multiple tasks at runtime (skew=true in the final plan) — the first
    line of defense against a hot join key."""
    import pyspark.sql.functions as SF

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        facts = spark.range(200_000).select(
            SF.when(SF.col("id") % 2 == 0, SF.lit(7)).otherwise(SF.col("id")).alias("k"),
            SF.col("id").alias("v"),
        )
        dim = spark.range(100_000).select(SF.col("id").alias("k"), SF.lit("x").alias("tag"))
        joined = facts.join(dim, "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
