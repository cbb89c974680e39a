"""operators/ranking.py — distributed total-order primitives.

Every helper is checked two ways: (1) value-exact against the
single-partition Window form it replaces, (2) plan-clean — its own physical
plan must not contain the Exchange SinglePartition collapse it exists to
remove (the bounded per-partition-count window rides an Aggregate, which the
detector classifies as bounded).
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from clickhouse_forecasting_spark.operators import ranking as RK
from clickhouse_forecasting_spark.plans import single_partition_collapses


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_global_row_number_matches_window(spark, docs):
    d = docs.select("doc_id", "n_chars")
    got = RK.global_row_number(d, ["n_chars", "doc_id"], "rn")
    ref = d.withColumn(
        "rn", F.row_number().over(Window.orderBy("n_chars", "doc_id")).cast("bigint")
    )
    assert (
        got.alias("a").join(ref.alias("b"), "doc_id").filter("a.rn <> b.rn").count()
        == 0
    )
    # dense 1..n with no gaps
    n = d.count()
    agg = got.agg(F.min("rn"), F.max("rn"), F.count_distinct("rn")).collect()[0]
    assert tuple(agg) == (1, n, n)


def test_global_row_number_plan_is_distributed(spark, docs):
    got = RK.global_row_number(docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"])
    assert single_partition_collapses(got) == []


@pytest.mark.parametrize("k", [2, 5, 7, 64])
def test_global_ntile_matches_sql_ntile(spark, docs, k):
    d = docs.select("doc_id", "n_chars")
    got = RK.global_ntile(d, [F.desc("n_chars"), "doc_id"], k, "t")
    ref = d.withColumn(
        "t", F.ntile(k).over(Window.orderBy(F.desc("n_chars"), "doc_id"))
    )
    assert (
        got.alias("a").join(ref.alias("b"), "doc_id").filter("a.t <> b.t").count()
        == 0
    )


def test_global_ntile_fewer_rows_than_tiles(spark, docs):
    tiny = docs.limit(3).select("doc_id")
    got = sorted((r.doc_id, r.t) for r in RK.global_ntile(tiny, ["doc_id"], 5, "t").collect())
    # SQL ntile with total < k: every row its own tile, in order
    assert [t for _, t in got] == [1, 2, 3]


def test_global_running_sum_matches_window(spark, docs):
    d = docs.select("doc_id", "n_chars", (F.col("doc_id") % 7).alias("v"))
    got = RK.global_running_sum(d, ["doc_id"], ["n_chars", "v"], ["cs", "cv"])
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    ref = d.select(
        "doc_id", F.sum("n_chars").over(w).alias("cs"), F.sum("v").over(w).alias("cv")
    )
    assert (
        got.alias("a").join(ref.alias("b"), "doc_id")
        .filter("a.cs <> b.cs OR a.cv <> b.cv").count() == 0
    )


def test_global_running_max_matches_window(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    got = RK.global_running_max(ev, ["event_id"], "us", "cm")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    ref = ev.select("event_id", F.max("us").over(w).alias("cm"))
    assert (
        got.alias("a").join(ref.alias("b"), "event_id")
        .filter("a.cm <> b.cm").count() == 0
    )
    assert single_partition_collapses(got) == []


def test_partitioned_run_counts_matches_window(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_returnflag", "l_quantity", "l_shipdate"]
    got = RK.partitioned_run_counts(li, ["l_orderkey", "l_linenumber"], cols)
    w = Window.orderBy("l_orderkey", "l_linenumber")
    chg = li.select(
        *[(~F.col(c).eqNullSafe(F.lag(c).over(w))).cast("int").alias(f"c_{c}") for c in cols]
    )
    ref = chg.agg(
        F.count("*").alias("n_rows"),
        *[F.sum(f"c_{c}").cast("bigint").alias(f"runs_{c}") for c in cols],
    )
    assert got.collect()[0].asDict() == ref.collect()[0].asDict()


def test_partitioned_run_counts_bucket_by_matches_ranged(spark, sf_dir):
    # the sampler-free bucket_by route (r12): a monotone, tie-constant
    # bucket over the leading order key must reproduce the ranged
    # route's counts exactly — including across bucket boundaries and
    # with empty buckets (span oversized relative to the key range)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_returnflag", "l_quantity", "l_shipdate"]
    ranged = RK.partitioned_run_counts(
        li, ["l_orderkey", "l_linenumber"], cols
    ).collect()[0]
    agg = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    mn, mx = int(agg[0]), int(agg[1])
    for n_parts, per_bucket in ((4, 64), (16, 1), (3, 1000)):
        span = max(1, (mx - mn) // (per_bucket * n_parts) + 1)
        got = RK.partitioned_run_counts(
            li, ["l_orderkey", "l_linenumber"], cols,
            num_partitions=n_parts,
            bucket_by=F.expr(f"CAST((l_orderkey - {mn}) DIV {span} AS INT)"),
        ).collect()[0]
        assert got.asDict() == ranged.asDict(), (n_parts, per_bucket)


def test_partitioned_run_counts_nulls_and_tiny_partitions(spark):
    # nulls + more partitions than rows: boundary stitching must use
    # null-safe compares and tolerate empty range partitions
    rows = [(1, "a"), (2, None), (3, None), (4, "a"), (5, "a"), (6, "b")]
    df = spark.createDataFrame(rows, "i int, v string")
    got = RK.partitioned_run_counts(df, ["i"], ["v"], num_partitions=16).collect()[0]
    # window semantics: chg = NOT v <=> lag(v): a,None,None,a,a,b ->
    # 1(a vs NULL lag: null-safe unequal), 1, 0, 1, 0, 1 = 4
    assert got.n_rows == 6 and got.runs_v == 4


def test_top_k_plans_take_ordered(spark, docs):
    plan = RK.top_k(docs.select("doc_id", "n_chars"), [F.desc("n_chars"), "doc_id"], 5)
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in s
    assert single_partition_collapses(plan) == []


def test_primitives_survive_empty_input(spark, docs):
    empty = docs.select("doc_id", "n_chars").filter(F.lit(False))
    assert RK.global_row_number(empty, ["doc_id"]).count() == 0
    assert RK.global_ntile(empty, ["doc_id"], 4).count() == 0
    got = RK.partitioned_run_counts(empty, ["doc_id"], ["n_chars"]).collect()[0]
    assert got.n_rows in (0, None) or got.n_rows == 0


def test_global_rank_matches_window(spark, docs):
    d = docs.select("doc_id", (F.col("n_chars") % 50).alias("v"))
    got = RK.global_rank(d, ["v"], "rank")
    ref = d.withColumn("rank", F.rank().over(Window.orderBy("v")).cast("bigint"))
    assert (
        got.alias("a").join(ref.alias("b"), "doc_id")
        .filter("a.rank <> b.rank").count() == 0
    )


def test_global_dense_rank_matches_window(spark, docs):
    d = docs.select("doc_id", (F.col("n_chars") % 50).alias("v"))
    got = RK.global_rank(d, ["v"], "drank", dense=True)
    ref = d.withColumn(
        "drank", F.dense_rank().over(Window.orderBy("v")).cast("bigint")
    )
    assert (
        got.alias("a").join(ref.alias("b"), "doc_id")
        .filter("a.drank <> b.drank").count() == 0
    )


def test_global_rank_rejects_expression_order(spark, docs):
    import pytest as _pt

    with _pt.raises(ValueError):
        RK.global_rank(docs, [F.desc("n_chars")])


def test_tied_keys_split_with_tiebreak(spark):
    """RangePartitioner cannot split equal key tuples: ranking a constant
    column alone collapses to ONE partition (correct but serial). With a
    unique tie-break in the order spec the tied run spreads across
    partitions, and RANK-like reductions are unaffected by the tie order."""
    df = spark.range(10_000).select(
        F.lit(1).alias("k"), F.col("id").alias("i")
    )
    alone = RK.ranged_with_local_index(df, ["k"], num_partitions=8)
    with_tb = RK.ranged_with_local_index(df, ["k", "i"], num_partitions=8)
    used = lambda d: d.select("__rk_pid").distinct().count()  # noqa: E731
    assert used(alone) == 1  # the documented collapse
    assert used(with_tb) == 8  # tie-break restores parallelism
    # and min-rn-per-key (RANK) is identical either way
    rn = RK.global_row_number(df, ["k", "i"], "rn", num_partitions=8)
    assert rn.agg(F.min("rn"), F.max("rn")).collect()[0][0:2] == (1, 10_000)


def test_global_row_number_null_ordering_matches_window(spark):
    """NULL order keys: repartitionByRange and Window both sort NULLS
    FIRST ascending — the distributed rn must agree row-for-row."""
    rows = [(i, None if i % 5 == 0 else i % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "i long, v int")
    got = RK.global_row_number(df, ["v", "i"], "rn", num_partitions=8)
    ref = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "i")).cast("bigint")
    )
    assert (
        got.alias("a").join(ref.alias("b"), "i").filter("a.rn <> b.rn").count()
        == 0
    )


def test_grouped_running_sum_null_carry(spark):
    """SQL running-sum NULL semantics PER GROUP: a row whose group
    prefix holds no non-null value is NULL (not 0), even when earlier
    GROUPS contributed non-null values to the global prefix — the exact
    edge the r6 docstring documented but did not enforce."""
    rows = [
        # g=1: values from the start
        (0, 1, 5), (1, 1, None), (2, 1, 3),
        # g=2: ALL NULL — every cs must be NULL
        (3, 2, None), (4, 2, None),
        # g=3: null prefix, then a value
        (5, 3, None), (6, 3, 7), (7, 3, None),
    ]
    df = spark.createDataFrame(rows, "i long, g long, v int")
    got = RK.grouped_running_sum(df, ["g"], ["i"], ["v"], ["cs"],
                                 num_partitions=4)
    w = Window.partitionBy("g").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = df.withColumn("cs", F.sum("v").over(w))
    assert (
        got.alias("a").join(ref.alias("b"), "i")
        .filter("NOT (a.cs <=> b.cs)").count() == 0
    )
    # the all-null group really surfaces NULL, not 0
    assert got.filter("g = 2 AND cs IS NOT NULL").count() == 0


def test_grouped_primitives_cardinality_guard_fires(spark):
    """The rebase frames are force-broadcast, which is only safe for
    policy-bounded group counts — past max_groups the in-plan
    assert_true must fail the job loudly instead of OOMing the driver."""
    df = spark.range(500).select(
        F.col("id").alias("g"), (F.col("id") % 7).alias("v")
    )
    ok = RK.grouped_running_sum(
        df, ["g"], ["v"], ["v"], ["cs"], num_partitions=4, max_groups=500
    )
    assert ok.count() == 500
    bad = RK.grouped_running_sum(
        df, ["g"], ["v"], ["v"], ["cs"], num_partitions=4, max_groups=100
    )
    with pytest.raises(Exception, match="max_groups"):
        bad.count()
    bad_rn = RK.grouped_row_number(
        df, ["g"], ["v"], "rn", num_partitions=4, max_groups=100
    )
    with pytest.raises(Exception, match="max_groups"):
        bad_rn.count()


def test_with_ntile_from_rn_quotes_non_identifier_names(spark):
    """Backtick quoting: column names with dots/hyphens must bind as
    single columns in the generated tile expression."""
    df = spark.range(10).select(
        (F.col("id") + 1).alias("my.rn"), F.lit(10).alias("total-rows")
    )
    got = RK.with_ntile_from_rn(df, "my.rn", "total-rows", 4, "tile")
    tiles = [r.tile for r in got.orderBy("`my.rn`").collect()]
    # SQL NTILE(4) over 10 rows: first 2 tiles get 3 rows, rest 2
    assert tiles == [1, 1, 1, 2, 2, 2, 3, 3, 4, 4]


def test_join_back_rejects_payload_collision(spark):
    """A lookup payload column already on the input frame would produce
    ambiguous duplicates that only explode at a later select — rejected
    eagerly with a clear error instead."""
    df = spark.range(10).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("rank")
    )
    with pytest.raises(ValueError, match="rank"):
        RK.global_rank(df.select("g", "rank"), ["g"], col_name="rank")


def test_bounded_rows_fastpath_matches_grouped(spark, docs):
    """The assert-guarded plain-window fast path must be value-exact
    against both the distributed grouped machinery and the plain window
    form, and census-clean (no single-partition collapse, no bounded
    enum fan-in — the __bounded_rowcap_asserted marker is the proof)."""
    from clickhouse_forecasting_spark.plans import bounded_key_fanins

    d = docs.select("doc_id", "lang", "n_chars")
    fast = RK.bounded_rows_row_number(d, ["lang"], ["n_chars", "doc_id"])
    slow = RK.grouped_row_number(d, ["lang"], ["n_chars", "doc_id"], "rk")
    ref = d.withColumn(
        "rk",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .cast("bigint"),
    )
    for got in (fast, slow):
        assert (
            got.alias("a")
            .join(ref.alias("b"), "doc_id")
            .filter("a.rk <> b.rk")
            .count()
            == 0
        )
    assert single_partition_collapses(fast) == []
    assert bounded_key_fanins(fast) == []


def test_bounded_rows_fastpath_refuses_oversized_input(spark, monkeypatch):
    """Negative control: the fast path's in-plan assert fires on a frame
    larger than FASTPATH_MAX_ROWS — it cannot silently fan a fact into
    |domain| tasks."""
    df = spark.range(1000).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("v")
    )
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 10)
    bad = RK.bounded_rows_row_number(df, ["g"], ["v"])
    # count() alone prunes the window (row-preserving, output unused) and
    # with it the fan-in the guard exists to police — no window, no risk.
    # Any plan that EXECUTES the window keeps the assert, because the
    # window partition key IS the guarded expression.
    with pytest.raises(Exception, match="max_rows"):
        bad.collect()
    with pytest.raises(Exception, match="max_rows"):
        bad.select("rk").collect()


def _dispatch_log(caplog) -> list[str]:
    return [
        r.getMessage() for r in caplog.records
        if r.name == "clickhouse_forecasting_spark"
        and r.getMessage().startswith("dispatch:")
    ]


def test_dispatch_routes_by_size(spark, monkeypatch, caplog):
    """grouped_row_number(dispatch=True) picks the plain-window fast path
    under FASTPATH_MAX_ROWS and the distributed machinery above it —
    identical values either way, one INFO record per routing decision."""
    caplog.set_level(logging.INFO, logger="clickhouse_forecasting_spark")
    df = spark.range(200).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("v")
    )
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 1000)
    fast = RK.grouped_row_number(df, ["g"], ["v"], dispatch=True)
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 100)
    slow = RK.grouped_row_number(df, ["g"], ["v"], dispatch=True)
    assert _dispatch_log(caplog) == [
        "dispatch: caller=grouped_row_number rows=200 cap=1000 route=fast",
        "dispatch: caller=grouped_row_number rows=200 cap=100"
        " route=distributed",
    ]
    # fast plan carries the rowcap marker; the machinery plan does not
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "__bounded_rowcap_asserted" in fast_plan
    assert "__bounded_rowcap_asserted" not in slow_plan
    rows_f = {(r.g, r.v): r.rn for r in fast.collect()}
    rows_s = {(r.g, r.v): r.rn for r in slow.collect()}
    assert rows_f == rows_s


def test_bounded_rows_running_sum_matches_grouped_and_window(spark):
    """The running-sum fast path must reproduce the SQL window's exact
    NULL semantics (NULL until the group's first non-null value, NULLs
    skipped after) — the same property grouped_running_sum's NULL-carry
    machinery is pinned to."""
    rows = []
    for i in range(200):
        g = i % 4
        v = None if (g == 1 or i % 7 == 3) else i * 1.0
        rows.append((g, i, v))
    df = spark.createDataFrame(rows, "g int, o int, v double")
    fast = RK.bounded_rows_running_sum(df, ["g"], ["o"], ["v"], ["cum"])
    slow = RK.grouped_running_sum(df, ["g"], ["o"], ["v"], ["cum"])
    ref = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.partitionBy("g").orderBy("o")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    want = {(r.g, r.o): r.cum for r in ref.collect()}
    for got in (fast, slow):
        have = {(r.g, r.o): r.cum for r in got.collect()}
        assert have == want


def test_bounded_rows_running_sum_refuses_oversized_input(spark, monkeypatch):
    df = spark.range(500).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("o"),
        F.col("id").cast("double").alias("v"),
    )
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 50)
    bad = RK.bounded_rows_running_sum(df, ["g"], ["o"], ["v"], ["cum"])
    with pytest.raises(Exception, match="max_rows"):
        bad.collect()


def _both_routes(monkeypatch, df, build):
    """``build(df)`` on the fast route (FASTPATH_MAX_ROWS == the frame's
    row count, the inclusive edge) and on the distributed route (one
    below it); each plan is checked for the rowcap marker."""
    n = df.count()
    out = []
    for cap, marked in ((n, True), (n - 1, False)):
        monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", cap)
        got = build(df)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert ("__bounded_rowcap_asserted" in plan) == marked, (n, cap)
        out.append(got)
    return out


def test_grouped_running_sum_dispatch_routes_by_size(spark, monkeypatch):
    """Both routes match the plain SQL window, on a 300-row frame and on
    the degenerate empty and one-row frames."""
    base = spark.range(300).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("o"),
        F.col("id").cast("double").alias("v"),
    )
    w = (
        Window.partitionBy("g").orderBy("o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for df in (base, base.where("o < 1"), base.where("o < 0")):
        want = {
            (r.g, r.o): r.cum
            for r in df.withColumn("cum", F.sum("v").over(w)).collect()
        }
        for got in _both_routes(
            monkeypatch, df,
            lambda d: RK.grouped_running_sum(
                d, ["g"], ["o"], ["v"], ["cum"], dispatch=True
            ),
        ):
            assert {(r.g, r.o): r.cum for r in got.collect()} == want


def test_probe_rows_routing(spark):
    """r10 VERDICT #6: the ONE shared limit-guarded probe — complete row
    list under the cap, None on overflow, None (no job) when disabled."""
    from clickhouse_forecasting_spark.operators.ranking import probe_rows

    df = spark.range(10).selectExpr("id AS v")
    under = probe_rows(df, 10)
    assert under is not None and sorted(r.v for r in under) == list(range(10))
    assert probe_rows(df, 9) is None  # overflow -> distributed route
    assert probe_rows(df, 0) is None  # disabled -> forced distributed
    assert probe_rows(df.where("v < 0"), 5) == []  # empty is NOT overflow


def test_global_primitives_dispatch_route_by_size(spark, monkeypatch):
    """r11: the global total-order primitives gained the same
    size-adaptive dispatch the grouped forms have had since r7 — under
    the cap the assert-guarded plain window runs (rowcap marker in
    plan), over it the ranged machinery — and both routes match the
    plain SQL window, including mixed-direction orders via
    ``ascending``, on a 300-row frame and on empty and one-row frames."""
    base = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    by_v_desc = Window.orderBy(F.desc("v"), "k")
    by_k = Window.orderBy("k")
    cases = [
        (
            lambda df: RK.global_row_number(df, ["v", "k"], "rn", dispatch=True),
            F.row_number().over(Window.orderBy("v", "k")).cast("bigint"),
            "rn",
        ),
        (
            lambda df: RK.global_ntile(
                df, ["v", "k"], 5, col_name="t",
                ascending=[False, True], dispatch=True,
            ),
            F.ntile(5).over(by_v_desc),
            "t",
        ),
        (
            lambda df: RK.global_running_sum(
                df, ["k"], ["v"], ["cum"], dispatch=True
            ),
            F.sum("v").over(by_k.rowsBetween(Window.unboundedPreceding, 0)),
            "cum",
        ),
        (
            lambda df: RK.global_running_max(
                df, ["k"], "v", "m", exclusive=True, dispatch=True
            ),
            F.max("v").over(by_k.rowsBetween(Window.unboundedPreceding, -1)),
            "m",
        ),
    ]
    for df in (base, base.where("k < 1"), base.where("k < 0")):
        for build, sql_window, out in cases:
            want = {r.k: r[out] for r in df.withColumn(out, sql_window).collect()}
            for got in _both_routes(monkeypatch, df, build):
                assert {r.k: r[out] for r in got.collect()} == want, out


def test_bounded_global_fastpath_refuses_oversized_input(spark, monkeypatch):
    """Negative control: a probe that misroutes an oversized frame to the
    global fast path still fails loudly on the in-plan rowcap assert."""
    df = spark.range(500).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    monkeypatch.setattr(RK, "dispatch_small", lambda *a, **kw: True)
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 50)
    bad = RK.global_row_number(df, ["k"], "rn", dispatch=True)
    with pytest.raises(Exception, match="max_rows"):
        bad.collect()


def test_bounded_global_running_sum_null_semantics(spark):
    """NULL until the first non-null value in order, NULLs skipped after
    — the fast path must reproduce the distributed NULL-carry exactly."""
    rows = [(0, None), (1, None), (2, 2.0), (3, None), (4, 4.0)]
    df = spark.createDataFrame(rows, "k int, v double")
    fast = RK.global_running_sum(df, ["k"], ["v"], ["cum"], dispatch=True)
    slow = RK.global_running_sum(df, ["k"], ["v"], ["cum"])
    want = {0: None, 1: None, 2: 2.0, 3: 2.0, 4: 6.0}
    for got in (fast, slow):
        assert {r.k: r.cum for r in got.collect()} == want


def test_global_rank_dispatch_matches_window(spark):
    """global_rank(dispatch=True) threads dispatch into its
    internal per-key aggregate frames — values identical to the
    undispatched form and to the SQL window, both rank flavors."""
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % 9).alias("n")
    )
    for dense in (False, True):
        disp = RK.global_rank(
            df, ["n"], "r", dense=dense, dispatch=True,
        )
        ref = df.withColumn(
            "r",
            (F.dense_rank() if dense else F.rank())
            .over(Window.orderBy("n"))
            .cast("bigint"),
        )
        a = {r.k: r.r for r in disp.collect()}
        b = {r.k: r.r for r in ref.collect()}
        assert a == b, dense


def test_global_dispatch_rejects_expression_only_order(spark, monkeypatch):
    """The guard-key check raises before the routing probe runs a job."""

    def no_probe(*a, **kw):
        raise AssertionError("probe ran before the order-key check")

    monkeypatch.setattr(RK, "dispatch_small", no_probe)
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="plain"):
        RK.global_row_number(df, [F.desc("k")], "rn", dispatch=True)
