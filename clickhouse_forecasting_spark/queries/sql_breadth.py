# aggregation / join / window / sessionization / as-of breadth
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, incremental):
# it imports its dependencies explicitly; __init__.py merges its names
# into the shared exec namespace so later parts see them as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import asof as AsOf
from ..operators import range_join as RJ
from ..operators import ranking as RK
from ..relational import gap_fill
from .catalog_relational import (
    _ORDERS_DAILY_SQL,
    _dsum,
    _dsum_cents,
    _orders_daily,
    _t,
)
# --------------------------------------------------------------------------
# SQL breadth: aggregation / join / window / sessionization / as-of
# (capabilities the engine gets from Spark SQL, SURVEY §2.6)
# --------------------------------------------------------------------------


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (_dsum(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,10))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k. The customer dim is broadcast
    (small side), lineitem↔orders is the real shuffle join."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(_dsum(disc).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_tpch_q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: dims broadcast, facts shuffle on their keys."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(sup.hint("broadcast"), (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(disc).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


_Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name ORDER BY revenue DESC, n_name
"""


def q_tpch_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"))
    )


_Q6_SQL = (
    "SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))) AS DOUBLE) AS revenue_delta "
    "FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
)


def q_window_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per segment. A window PARTITIONED BY the 5-value
    segment enum would fan the whole customer table into 5 tasks at any
    cluster size, so the per-group rank is the distributed grouped
    row_number (operators/ranking: global ranged order over
    (segment, balance, key) + broadcast per-group rebase) — behind the
    size-adaptive dispatch (r7 VERDICT #3): at test scales the customer
    frame is metadata-counted under the cap and the assert-guarded plain
    window runs instead, recovering the pre-rewrite cost."""
    top = RK.grouped_top_k(
        _t(spark, sf_dir, "customer"),
        ["c_mktsegment"],
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        3,
        col_name="rank",
        dispatch=True,
    )
    return top.select(
        "c_mktsegment", F.col("rank").cast("int").alias("rank"),
        "c_custkey", "c_acctbal",
    )


_WINDOW_SQL = """
SELECT c_mktsegment, rank, c_custkey, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rank
  FROM customer) WHERE rank <= 3
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + cumulative sum of
    session-start flags — one shuffle on user_id. Gaps compare at FULL
    timestamp precision (cast to double seconds) — unix_timestamp truncates
    to seconds while DuckDB's epoch() keeps fractions, which diverges for
    gaps within a second of the boundary."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    prev_sec = F.lag(sec).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(sec - prev_sec > 1800, 1).otherwise(0)
        + F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id,
    (CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END
     + CASE WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END) AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, SUM(new_session) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for each order, the latest
    event with ts <= o_orderdate. Uses the bucketed two-pass operator
    (operators/asof.py): month-partitioned in-bucket windows + a tiny
    bucket-carry frame — no O(n*m) inequality join and no single global
    range-shuffled window task. The DuckDB oracle runs the equivalent
    global-window formulation."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    return AsOf.asof_join(
        orders, ev, left_ts="o_orderdate", right_ts="ts",
        right_value="event_id", out_col="last_event_id",
    ).select("o_orderkey", "last_event_id")


_ASOF_SQL = """
WITH u AS (
  SELECT ts AS t, event_id, NULL::BIGINT AS o_orderkey, 0 AS kind FROM events
  UNION ALL
  SELECT o_orderdate AS t, NULL::BIGINT AS event_id, o_orderkey, 1 AS kind FROM orders),
w AS (
  SELECT *, LAST_VALUE(event_id IGNORE NULLS) OVER (
      ORDER BY t, kind, COALESCE(event_id, o_orderkey)
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_event_id
  FROM u)
SELECT o_orderkey, last_event_id FROM w WHERE kind = 1
"""


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucket equi-join (operators/range_join.py): how many
    events precede each purchase by at most one hour (the attribution
    window). The oracle runs the naive inequality-join form; ours never
    builds the cross product."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("interval 1 hour")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    points = ev.select("event_id", "ts")
    joined = RJ.range_join_points(purchases, points, "w_start", "w_end", "ts")
    return (
        joined.groupBy("purchase_id")
        .agg(F.count("*").alias("n_preceding"))
        .orderBy("purchase_id")
    )


_RANGE_SQL = """
SELECT p.event_id AS purchase_id, COUNT(*) AS n_preceding
FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
JOIN events e ON e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
GROUP BY p.event_id ORDER BY p.event_id
"""


def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows: groupBy(session_window(ts, gap)) merges
    events within 30 min of the previous into one window ending
    last_ts + gap. The same expression runs unchanged under readStream
    (state pruned by watermark); the oracle is the classic gaps-and-islands
    rewrite. Spark starts a new session when the gap is >= the threshold
    (window end is exclusive), mirrored in the oracle's >= comparison."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            _dsum(F.col("value")).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


_SESSION_WINDOW_SQL = """
WITH ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 100),
marked AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def q_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping window (7-day span, 1-day slide) event rollup — the sliding
    twin of the tumbling streaming rollup; each event lands in 7 windows
    (Spark's window() expands rows; the oracle expands via a 0..6 series)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n_events"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("date").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


_SLIDING_SQL = """
SELECT CAST(date_trunc('day', ts) - INTERVAL (i) DAY AS DATE) AS window_start,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value
FROM events CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i)
GROUP BY 1
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: per user, first signup -> first subsequent purchase.
    One aggregation pass (conditional min-timestamps), then a row-local
    comparison — no self-join over the event log."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    converted = (
        F.col("first_signup").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") > F.col("first_signup"))
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.sum(converted.cast("long")).alias("n_converted"),
    )


_FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
  COUNT(first_signup) AS n_signed_up,
  SUM(CASE WHEN first_signup IS NOT NULL AND first_purchase IS NOT NULL
            AND first_purchase > first_signup THEN 1 ELSE 0 END) AS n_converted
FROM per_user
"""


def q_streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming rollup's batch twin: same window() expression the
    Structured Streaming path uses (streaming/rollup.py)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("event_count"), _dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").cast("date").alias("date"), "event_count", "total_value")
    )


_STREAM_SQL = (
    "SELECT CAST(ts AS DATE) AS date, COUNT(*) AS event_count, "
    "CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value "
    "FROM events GROUP BY 1"
)


# --------------------------------------------------------------------------
# SQL breadth II: more join/agg/window/set/JSON/grouping shapes
# --------------------------------------------------------------------------


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns (join + agg + top-k)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(disc).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q_tpch_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + two-level aggregation: how many customers have k orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate ratio: share of revenue from PROMO parts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((F.lit(100.0) * _dsum(promo) / _dsum(disc)).alias("promo_revenue_pct"))
    )


_Q14_SQL = """
SELECT 100.0
  * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(38,10))) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-subquery shape: orders whose total quantity exceeds 150."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, total_qty
FROM (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


def q_tpch_q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction-of-conjunctions predicate pushed through a join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 15) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(_dsum(disc).alias("revenue"))
    )


_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size <= 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size <= 15 AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-nation x supplier-nation trade volume by ship year."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup.hint("broadcast"), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(n2), sup.s_nationkey == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(_dsum(disc).alias("volume"))
    )


_Q7_SQL = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
  year(l_shipdate) AS ship_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS volume
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
GROUP BY 1, 2, 3
"""


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View + scalar-max shape: supplier(s) with maximum 1996 revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    sup = _t(spark, sf_dir, "supplier")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = li.groupBy("l_suppkey").agg(_dsum(disc).alias("total_revenue"))
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev.max_revenue)
        .join(sup, revenue.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS total_revenue
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar-subquery shape, decorrelated: revenue from orders
    of a part below 50% of that part's average order quantity."""
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(
        (_dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(part_avg.hint("broadcast"), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            _dsum_cents(F.col("l_extendedprice")).alias("small_qty_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_Q17_SQL = """
WITH pa AS (
  SELECT l_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS small_qty_revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN pa USING (l_partkey)
WHERE l_quantity < 0.5 * avg_qty
"""


def q_cube_segment_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, year): all four grouping combinations, one pass."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", F.year("o_orderdate").alias("order_year"), "o_totalprice"
    )
    return joined.cube("c_mktsegment", "order_year").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_orders"),
        _dsum_cents(F.col("o_totalprice")).alias("revenue"),
    )


_CUBE_SQL = """
SELECT c_mktsegment, year(o_orderdate) AS order_year,
  GROUPING(c_mktsegment) * 2 + GROUPING(year(o_orderdate)) AS gid,
  COUNT(*) AS n_orders,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, year(o_orderdate))
"""


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: supplier-name pairs within edit distance 1,
    prefix-blocked. The block key turns the quadratic self-join into an
    equi-join (pairs spanning blocks are out of scope by construction —
    both engines apply the identical blocking, so results agree)."""
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.substring("s_name", 1, 10).alias("blk")
    )
    a = sup.select(F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("name_a"), "blk")
    b = sup.select(F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


_FUZZY_SQL = """
WITH s AS (SELECT s_suppkey, s_name, substr(s_name, 1, 10) AS blk FROM supplier)
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       levenshtein(a.s_name, b.s_name) AS dist
FROM s a JOIN s b ON a.blk = b.blk AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-share shape (ratio of conditional sums per group): EUROPE
    suppliers' share of total revenue per ship year."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(sup.hint("broadcast"), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    europe = F.when(F.col("r_name") == "EUROPE", disc).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg((_dsum(europe) / _dsum(disc)).alias("europe_share"))
        .orderBy("ship_year")
    )


_Q8_SQL = """
SELECT year(l_shipdate) AS ship_year,
  CAST(SUM(CAST(CASE WHEN r_name = 'EUROPE' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(38,10))) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS europe_share
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1 ORDER BY 1
"""


def q_window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank: customer balance deciles within segment. A
    window partitioned by the 5-value segment enum would fan the customer
    table into 5 tasks, so the per-segment rank is the distributed
    grouped row_number, deciles come from the shared SQL-exact NTILE
    arithmetic over (rn, per-segment total), and percent_rank is
    (rn−1)/(n−1) — the ordering is total (custkey tie-break), so
    rank == row_number."""
    cust = _t(spark, sf_dir, "customer")
    rn = RK.grouped_row_number(
        cust.select("c_custkey", "c_mktsegment", "c_acctbal"),
        ["c_mktsegment"],
        ["c_acctbal", "c_custkey"],
        col_name="__rn",
    )
    totals = rn.groupBy("c_mktsegment").agg(F.count("*").alias("__n"))
    out = RK.with_ntile_from_rn(
        rn.join(F.broadcast(totals), "c_mktsegment"),
        "__rn", "__n", 10, out_col="decile",
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        "decile",
        F.round(
            (F.col("__rn") - 1).cast("double")
            / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"),
            6,
        ).alias("pct_rank"),
    )


_NTILE_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal,
  NTILE(10) OVER w AS decile,
  round(PERCENT_RANK() OVER w, 6) AS pct_rank
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def q_window_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average + running total of daily revenue — the classic
    time-series smoothing pass, one range-shuffle then streaming window."""
    # keep the daily revenue DECIMAL end-to-end: window sums stay exact and
    # engine-independent; cast to double only on output. (Converting an
    # already-derived double back to decimal is NOT portable: engines differ
    # between shortest-repr and exact-binary-expansion conversion.)
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("date"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("rev_dec"))
    )
    w7 = Window.orderBy("date").rowsBetween(-6, 0)
    wcum = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "date",
        F.col("rev_dec").cast("double").alias("total_revenue"),
        (F.sum("rev_dec").over(w7).cast("double") / F.count("*").over(w7)).alias("revenue_ma7"),
        # round to cents: the true cum is exact 2-decimal money, but DuckDB's
        # decimal->double cast double-rounds (int128->double, then /1e10) and
        # can land 1 ulp off the correctly-rounded double Spark produces
        F.round(F.sum("rev_dec").over(wcum).cast("double"), 2).alias("revenue_cum"),
    )


_MOVAVG_SQL = """
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS date,
         SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS rev_dec
  FROM orders GROUP BY 1)
SELECT date, CAST(rev_dec AS DOUBLE) AS total_revenue,
  CAST(SUM(rev_dec) OVER w7 AS DOUBLE) / COUNT(*) OVER w7 AS revenue_ma7,
  round(CAST(SUM(rev_dec) OVER wc AS DOUBLE), 2) AS revenue_cum
FROM d
WINDOW w7 AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       wc AS (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_window_dod_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): day-over-day revenue delta (NULL on the first day)."""
    daily = _orders_daily(spark, sf_dir)
    w = Window.orderBy("date")
    return daily.select(
        "date",
        "total_revenue",
        (F.col("total_revenue") - F.lag("total_revenue").over(w)).alias("dod_delta"),
    )


_DOD_SQL = f"""
WITH d AS ({_ORDERS_DAILY_SQL})
SELECT date, total_revenue,
  total_revenue - LAG(total_revenue) OVER (ORDER BY date) AS dod_delta
FROM d
"""


def q_set_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers active in both 1995 and 1996."""
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96).withColumnRenamed("o_custkey", "custkey")


_SET_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


def q_anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no orders in 2001 (churn query)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 2001)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 2001)
"""


def q_correlated_above_avg_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: suppliers above their nation's average
    account balance (decorrelated to a groupBy + equi-join — the plan
    Catalyst produces for the subquery form too)."""
    sup = _t(spark, sf_dir, "supplier")
    nat_avg = sup.groupBy("s_nationkey").agg(
        (_dsum(F.col("s_acctbal")) / F.count("*")).alias("nation_avg")
    )
    return (
        sup.join(F.broadcast(nat_avg), "s_nationkey")
        .filter(F.col("s_acctbal") > F.col("nation_avg"))
        .select("s_suppkey", "s_name", "s_acctbal", F.round("nation_avg", 6).alias("nation_avg"))
    )


_CORR_SQL = """
WITH a AS (SELECT s_nationkey,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS nation_avg
           FROM supplier GROUP BY 1)
SELECT s_suppkey, s_name, s_acctbal, round(nation_avg, 6) AS nation_avg
FROM supplier JOIN a USING (s_nationkey)
WHERE s_acctbal > nation_avg
"""


def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events props column + aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            _dsum(k.cast("double")).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


_JSON_SQL = """
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(CAST(props->>'$.k' AS BIGINT) AS DECIMAL(38,10))) AS DOUBLE) AS sum_k,
  MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_rollup_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (nation, year) revenue with grouping_id — multi-granularity
    aggregation in one pass (the hypertable-rollup pattern)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", F.year("o_orderdate").alias("order_year"), "o_totalprice")
    )
    return (
        joined.rollup("n_name", "order_year")
        .agg(
            F.grouping_id().alias("gid"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .select("n_name", "order_year", "gid", "revenue")
    )


_ROLLUP_SQL = """
SELECT n_name, year(o_orderdate) AS order_year,
  GROUPING(n_name) * 2 + GROUPING(year(o_orderdate)) AS gid,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, year(o_orderdate))
"""


def q_pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (no distinct pre-pass): order counts
    per year x status."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(F.year("o_orderdate").alias("order_year"), "o_orderstatus")
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "order_year",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


_PIVOT_SQL = """
SELECT year(o_orderdate) AS order_year,
  COUNT(*) FILTER (o_orderstatus = 'O') AS n_open,
  COUNT(*) FILTER (o_orderstatus = 'F') AS n_filled,
  COUNT(*) FILTER (o_orderstatus = 'P') AS n_pending
FROM orders GROUP BY 1
"""


def q_unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's spine op (SURVEY §7.1): wide daily table -> long
    (date, metric, value) via native unpivot."""
    daily = _orders_daily(spark, sf_dir).select(
        "date",
        F.col("order_count").cast("double").alias("order_count"),
        "total_revenue",
    )
    return daily.unpivot("date", ["order_count", "total_revenue"], "metric", "value")


_UNPIVOT_SQL = f"""
WITH d AS ({_ORDERS_DAILY_SQL})
SELECT date, 'order_count' AS metric, CAST(order_count AS DOUBLE) AS value FROM d
UNION ALL
SELECT date, 'total_revenue' AS metric, total_revenue AS value FROM d
"""


def q_anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly detection on daily revenue: each
    day scored against the prior 28 days' mean/std. Std comes from exact
    decimal frame sums of x and x^2 (sqrt(E[x^2]-E[x]^2)) — deterministic
    where stddev_samp's per-engine accumulation order is not; z is ranked
    and compared on the 6dp-rounded value. The global date-ordered window
    runs on an already-aggregated daily series (tiny by construction)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("rev_dec")
    ).withColumn("revenue", F.col("rev_dec").cast("double"))
    w = Window.orderBy("day").rowsBetween(-28, -1)
    n = F.count("revenue").over(w)
    s1 = F.sum("rev_dec").over(w).cast("double")
    s2 = F.sum(
        (F.col("revenue") * F.col("revenue")).cast("decimal(38,6)")
    ).over(w).cast("double")
    mean = s1 / n
    var = F.greatest(s2 / n - mean * mean, F.lit(1e-12))
    z = F.round((F.col("revenue") - mean) / F.sqrt(var), 6)
    return (
        daily.select("day", "revenue", n.alias("n"), z.alias("z"))
        .filter(F.col("n") >= 14)
        .withColumn("is_anomaly", F.abs(F.col("z")) > 3.0)
        .drop("n")
        .orderBy("day")
    )


_ANOMALY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS rev_dec,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1),
stats AS (
  SELECT day, revenue,
    COUNT(revenue) OVER w AS n,
    CAST(SUM(rev_dec) OVER w AS DOUBLE) AS s1,
    CAST(SUM(CAST(revenue * revenue AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2
  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
SELECT day, revenue,
  ROUND((revenue - s1 / n) / sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 1e-12)), 6) AS z,
  ABS(ROUND((revenue - s1 / n) / sqrt(GREATEST(s2 / n - (s1 / n) * (s1 / n), 1e-12)), 6)) > 3.0 AS is_anomaly
FROM stats WHERE n >= 14 ORDER BY day
"""


def q_dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: orphan counts across the star schema's foreign
    keys (anti-join per relation, unioned). The pipeline-gate shape for
    ingest validation — each check is one LeftAnti join whose build side is
    just the key column, so the audit scans each fact table once per FK."""

    def orphans(child: DataFrame, parent: DataFrame, ck: str, pk: str, label: str) -> DataFrame:
        return (
            child.select(F.col(ck))
            .join(parent.select(F.col(pk)), child[ck] == parent[pk], "left_anti")
            .agg(F.count("*").alias("orphans"))
            .select(F.lit(label).alias("relation"), "orphans")
        )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    ev = _t(spark, sf_dir, "events")
    checks = [
        orphans(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders"),
        orphans(orders, cust, "o_custkey", "c_custkey", "orders->customer"),
        orphans(li, sup, "l_suppkey", "s_suppkey", "lineitem->supplier"),
        orphans(ev, cust, "user_id", "c_custkey", "events->customer"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("relation")


_DQ_SQL = """
SELECT 'lineitem->orders' AS relation, COUNT(*) AS orphans FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'orders->customer', COUNT(*) FROM orders
  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'lineitem->supplier', COUNT(*) FROM lineitem
  WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
UNION ALL
SELECT 'events->customer', COUNT(*) FROM events
  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id)
ORDER BY relation
"""


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type, with the sketch's 5%
    tolerance bound materialized IN the result: the raw HLL estimate is
    engine-specific (not oracle-hashable), so the query emits the exact
    count plus a boolean verdict `approx_within_5pct` — if the sketch ever
    drifts out of bound the verdict flips and the oracle hash catches it.
    The 100 TB cardinality path is the approx aggregate (one pass,
    fixed-size mergeable sketches, map-side partials — no distinct-shuffle
    of the key universe); the exact column is the verification twin, cf.
    sketch_rollup_daily_users for the sketch-only rollup shape."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
    )
    return (
        agg.select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


_APPROX_DISTINCT_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_gap_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (ClickHouse WITH FILL / timescale
    gapfill): complete date spine + linear interpolation of missing days."""
    daily = _orders_daily(spark, sf_dir).select(
        "date",
        F.col("order_count").cast("double").alias("order_count"),
        "total_revenue",
    )
    filled = gap_fill(daily, ["order_count", "total_revenue"])
    return filled.select(
        "date", F.round("order_count", 6).alias("order_count"),
        F.round("total_revenue", 4).alias("total_revenue"),
    )


_GAPFILL_SQL = f"""
WITH d AS ({_ORDERS_DAILY_SQL}),
bounds AS (SELECT MIN(date) AS d0, MAX(date) AS d1 FROM d),
spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date FROM bounds),
j AS (
  SELECT s.date, CAST(d.order_count AS DOUBLE) AS order_count, d.total_revenue,
         date_diff('day', DATE '1970-01-01', s.date) AS day
  FROM spine s LEFT JOIN d ON s.date = d.date),
w AS (
  SELECT date, order_count, total_revenue, day,
    LAST_VALUE(order_count IGNORE NULLS) OVER wp AS oc_prev,
    FIRST_VALUE(order_count IGNORE NULLS) OVER wn AS oc_next,
    LAST_VALUE(total_revenue IGNORE NULLS) OVER wp AS tr_prev,
    FIRST_VALUE(total_revenue IGNORE NULLS) OVER wn AS tr_next,
    LAST_VALUE(CASE WHEN order_count IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS oc_pd,
    FIRST_VALUE(CASE WHEN order_count IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS oc_nd,
    LAST_VALUE(CASE WHEN total_revenue IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS tr_pd,
    FIRST_VALUE(CASE WHEN total_revenue IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS tr_nd
  FROM j
  WINDOW wp AS (ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT date,
  round(COALESCE(order_count, oc_prev + (oc_next - oc_prev) * (day - oc_pd) / (oc_nd - oc_pd), oc_prev, oc_next), 6) AS order_count,
  round(COALESCE(total_revenue, tr_prev + (tr_next - tr_prev) * (day - tr_pd) / (tr_nd - tr_pd), tr_prev, tr_next), 4) AS total_revenue
FROM w
"""


def q_timeseries_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over day/month/year time buckets — one scan, one
    expand, three granularities (the hypertable-rollup pattern)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql("""
      SELECT CASE WHEN grouping(d) = 0 THEN 'day'
                  WHEN grouping(m) = 0 THEN 'month'
                  ELSE 'year' END AS grain,
             coalesce(d, m, y) AS bucket_start,
             count(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value
      FROM (SELECT CAST(ts AS DATE) AS d,
                   CAST(date_trunc('MONTH', ts) AS DATE) AS m,
                   CAST(date_trunc('YEAR', ts) AS DATE) AS y,
                   value
            FROM events_v)
      GROUP BY GROUPING SETS ((d), (m), (y))
    """)


_MULTIGRAIN_SQL = """
SELECT CASE WHEN grouping(d) = 0 THEN 'day'
            WHEN grouping(m) = 0 THEN 'month'
            ELSE 'year' END AS grain,
       coalesce(d, m, y) AS bucket_start,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value
FROM (SELECT CAST(ts AS DATE) AS d,
             CAST(date_trunc('month', ts) AS DATE) AS m,
             CAST(date_trunc('year', ts) AS DATE) AS y,
             value
      FROM events)
GROUP BY GROUPING SETS ((d), (m), (y))
"""


def q_percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (two-phase: sort within
    group partitions). approx_percentile is the sketch alternative when a
    single group's values exceed task memory."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(c_acctbal, 0.75)"), 6).alias("p75"),
            F.count("*").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


_PCTL_SQL = """
SELECT c_mktsegment,
  round(quantile_cont(c_acctbal, 0.25), 6) AS p25,
  round(quantile_cont(c_acctbal, 0.50), 6) AS p50,
  round(quantile_cont(c_acctbal, 0.75), 6) AS p75,
  COUNT(*) AS n
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (expands to two-phase agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


_DISTINCT_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


