"""Property-based tests (SURVEY §5.2): pivot∘unpivot identity on random
wide frames, the pivot's outer-join NULL-fill vs DuckDB, C6 name derivation
on random prefixes, star connected components vs union-find, and the
ranking primitives vs their window formulations.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.catalog import forecast_table_name
from clickhouse_forecasting_spark import relational as R

_SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

metric_values = st.one_of(
    st.none(),
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64
    ),
)


@st.composite
def wide_frames(draw):
    n_rows = draw(st.integers(min_value=1, max_value=12))
    n_metrics = draw(st.integers(min_value=1, max_value=4))
    metrics = [f"m{i}" for i in range(n_metrics)]
    d0 = dt.date(2024, 1, 1)
    rows = [
        tuple([d0 + dt.timedelta(days=i)] + [draw(metric_values) for _ in metrics])
        for i in range(n_rows)
    ]
    return metrics, rows


@given(wide_frames())
@_SLOW
def test_pivot_unpivot_roundtrip(spark, frame):
    metrics, rows = frame
    schema = "date date, " + ", ".join(f"{m} double" for m in metrics)
    df = spark.createDataFrame(rows, schema)
    long = R.unpivot_metrics(df, metrics)
    # forecast-shaped long frame: reuse yhat slots for the roundtrip
    long3 = long.select(
        "ds", "metric",
        F.col("y").alias("yhat"),
        F.col("y").alias("yhat_lower"),
        F.col("y").alias("yhat_upper"),
    )
    wide = R.pivot_forecasts_wide(long3, metrics)
    got = {
        r["date"]: tuple(r[m] for m in metrics) for r in wide.collect()
    }
    want = {r[0]: tuple(r[1:]) for r in rows}

    def eq(a, b):
        if a is None or b is None:
            # unpivot keeps NULL cells as NULL y; pivot carries them back
            return a is None and b is None
        return math.isclose(a, b, rel_tol=1e-12)

    assert set(got) == set(want)
    for d in want:
        assert all(eq(x, y) for x, y in zip(got[d], want[d]))


@given(wide_frames())
@_SLOW
def test_outer_join_matches_duckdb(spark, frame):
    metrics, rows = frame
    if len(metrics) < 2:
        return
    schema = "date date, " + ", ".join(f"{m} double" for m in metrics)
    df = spark.createDataFrame(rows, schema)
    # one long forecast frame holding each metric's non-NULL rows; the
    # pivot must rebuild the reference's per-metric full outer join
    long_df = R.unpivot_metrics(df, ["m0", "m1"]).filter(F.col("y").isNotNull()).select(
        "ds", "metric", *[F.col("y").alias(c) for c in ("yhat", "yhat_lower", "yhat_upper")]
    )
    ours = {
        r["date"]: (r["m0"], r["m1"])
        for r in R.pivot_forecasts_wide(long_df, ["m0", "m1"]).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (ds DATE, m0 DOUBLE, m1 DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", [r[:3] for r in rows])
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            """
            SELECT COALESCE(a.ds, b.ds), a.m0, b.m1
            FROM (SELECT ds, m0 FROM t WHERE m0 IS NOT NULL) a
            FULL OUTER JOIN (SELECT ds, m1 FROM t WHERE m1 IS NOT NULL) b
            ON a.ds = b.ds
            """
        ).fetchall()
    }
    assert ours == want


@given(st.text(alphabet="abcdefgh_", min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_forecast_name_derivation(name):
    # C6 (forecast_script.py:121-124): strip an existing bucket_ prefix,
    # always emit bucket_forecast_<stem>
    out = forecast_table_name(name)
    stem = name[len("bucket_"):] if name.startswith("bucket_") else name
    assert out == f"bucket_forecast_{stem}"
    # idempotence on already-derived names is NOT expected; the pipeline's
    # R14 prefix filter keeps derived tables out of the input set


# ------------------------------------------------- star CC (round 4)

_CC_SLOW = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_CC_SLOW
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=0,
        max_size=80,
    )
)
def test_star_cc_equals_union_find(spark, edges):
    """connected_components_star == union-find ground truth on ANY
    graph hypothesis throws at it (self-loops, duplicates, isolated
    pairs, long chains)."""
    from clickhouse_forecasting_spark.operators.graph import (
        connected_components_star,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = {}
    for x in parent:
        groups.setdefault(find(x), []).append(x)
    truth = {x: min(members) for members in groups.values() for x in members}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    comps, _ = connected_components_star(pairs)
    got = {r.id: r.component for r in comps.collect()}
    assert got == truth


# --- ranking primitives under random frames (r5) ---------------------------

_rank_rows = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),  # heavy ties by design
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
    ),
    min_size=1,
    max_size=60,
)


@given(_rank_rows, st.integers(min_value=2, max_value=9))
@_SLOW
def test_ranking_primitives_match_window_on_random_frames(spark, rows, k):
    """global_row_number / global_ntile / global_rank agree with the
    single-partition Window forms on random frames with heavy ties, NULLs,
    and more partitions than rows — the full tie/null/empty-partition
    surface in one property."""
    from pyspark.sql import Window

    from clickhouse_forecasting_spark.operators import ranking as RK

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a long, b int"
    )
    order = ["a", "b", "i"]  # total order: i is unique
    w = Window.orderBy(*order)

    got_rn = RK.global_row_number(df, order, "rn", num_partitions=7)
    ref_rn = df.withColumn("rn", F.row_number().over(w).cast("bigint"))
    assert (
        got_rn.alias("g").join(ref_rn.alias("r"), "i")
        .filter("g.rn <> r.rn").count() == 0
    )

    got_nt = RK.global_ntile(df, order, k, "t", num_partitions=7)
    ref_nt = df.withColumn("t", F.ntile(k).over(w))
    assert (
        got_nt.alias("g").join(ref_nt.alias("r"), "i")
        .filter("g.t <> r.t").count() == 0
    )

    got_rk = RK.global_rank(df, ["a", "b"], "rk", num_partitions=7)
    ref_rk = df.withColumn(
        "rk", F.rank().over(Window.orderBy("a", "b")).cast("bigint")
    )
    # row-count check first: a NULL-key drop through the join-back would
    # make the per-row comparison below pass VACUOUSLY
    assert got_rk.count() == df.count()
    assert (
        got_rk.alias("g").join(ref_rk.alias("r"), "i")
        .filter("g.rk <> r.rk").count() == 0
    )
    got_dk = RK.global_rank(df, ["a", "b"], "dk", dense=True, num_partitions=7)
    ref_dk = df.withColumn(
        "dk", F.dense_rank().over(Window.orderBy("a", "b")).cast("bigint")
    )
    assert got_dk.count() == df.count()
    assert (
        got_dk.alias("g").join(ref_dk.alias("r"), "i")
        .filter("g.dk <> r.dk").count() == 0
    )


@given(_rank_rows)
@_SLOW
def test_running_aggregates_match_window_on_random_frames(spark, rows):
    from pyspark.sql import Window

    from clickhouse_forecasting_spark.operators import ranking as RK

    df = spark.createDataFrame(
        [(i, a) for i, (a, _b) in enumerate(rows)], "i long, v long"
    )
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    got = RK.global_running_sum(df, ["i"], ["v"], ["cs"], num_partitions=7)
    ref = df.select("i", F.sum("v").over(w).alias("cs"))
    # null-safe compare: v is nullable, and SQL running-sum semantics say a
    # row whose whole prefix is NULL yields NULL — the distributed form
    # must reproduce that exactly (a plain <> filter would mask it)
    assert (
        got.alias("g").join(ref.alias("r"), "i")
        .filter("NOT (g.cs <=> r.cs)").count() == 0
    )
    gotm = RK.global_running_max(df, ["i"], "v", "cm", num_partitions=7)
    refm = df.select("i", F.max("v").over(w).alias("cm"))
    assert (
        gotm.alias("g").join(refm.alias("r"), "i")
        .filter("NOT (g.cm <=> r.cm)").count() == 0
    )
    # exclusive frame (ROWS ... AND 1 PRECEDING): the skyline shape —
    # first global row must be NULL (empty frame)
    wx = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, -1)
    gotx = RK.global_running_max(
        df, ["i"], "v", "cm", num_partitions=7, exclusive=True
    )
    refx = df.select("i", F.max("v").over(wx).alias("cm"))
    assert (
        gotx.alias("g").join(refx.alias("r"), "i")
        .filter("NOT (g.cm <=> r.cm)").count() == 0
    )


@given(_rank_rows)
@_SLOW
def test_grouped_primitives_match_partitioned_window(spark, rows):
    """grouped_row_number / grouped_running_sum agree with the
    PARTITION BY window forms on random frames with NULL group keys,
    NULL VALUES (the SQL NULL-until-first-non-null running-sum edge,
    including all-null group prefixes), heavy ties, and single-row
    groups — the per-enum-group rewrite surface
    (plans.bounded_key_fanins) in one property."""
    from pyspark.sql import Window

    from clickhouse_forecasting_spark.operators import ranking as RK

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i long, g long, v int",
    )
    w = Window.partitionBy("g").orderBy("i")
    got = RK.grouped_row_number(df, ["g"], ["i"], "rn", num_partitions=7)
    ref = df.withColumn("rn", F.row_number().over(w).cast("bigint"))
    assert got.count() == df.count()  # NULL group keys must survive
    assert (
        got.alias("a").join(ref.alias("b"), "i")
        .filter("a.rn <> b.rn").count() == 0
    )

    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    gots = RK.grouped_running_sum(
        df, ["g"], ["i"], ["v"], ["cs"], num_partitions=7
    )
    refs = df.withColumn("cs", F.sum("v").over(ws))
    assert gots.count() == df.count()
    assert (
        gots.alias("a").join(refs.alias("b"), "i")
        .filter("NOT (a.cs <=> b.cs)").count() == 0
    )

    topk = RK.grouped_top_k(df, ["g"], ["i"], 2, "rn", num_partitions=7)
    reft = ref.filter("rn <= 2")
    assert topk.count() == reft.count()


@given(_rank_rows, st.integers(min_value=2, max_value=7))
@_SLOW
def test_ntile_composed_with_aggregate_and_filter(spark, rows, k):
    """The composed shape of the ccnet/rfm rewrites: groupBy-aggregate →
    global_ntile → filter matches the Window form on random frames with
    DUPLICATE tile keys (the per-key count collides heavily), including
    NULL keys."""
    from pyspark.sql import Window

    from clickhouse_forecasting_spark.operators import ranking as RK

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a long, b int"
    )
    per = df.groupBy("a").agg(F.count("*").alias("n"), F.sum("b").alias("s"))
    order = ["n", "a"]  # n duplicates across groups; a unique per group
    got = (
        RK.global_ntile(per, order, k, "t", num_partitions=7)
        .filter("t = 1")
        .select("a", "n", "s", "t")
    )
    ref = (
        per.withColumn("t", F.ntile(k).over(Window.orderBy(*order)))
        .filter("t = 1")
        .select("a", "n", "s", "t")
    )
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, ref.collect()), key=key
    )
