"""Physical-plan assertions: the scale properties the engine relies on
(column pruning into the parquet scan, predicate pushdown, broadcast joins
for dims, no cartesian products) must survive refactors. These are the
properties that keep the same code viable at 100 TB — a regression here
won't fail a correctness test, so it gets its own suite.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def _plan(df, run: bool = False) -> str:
    if run:
        df.collect()  # resolve AQE: final plan (with codegen spans) exists after execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_projection_pruned(spark, sf_dir, qs):
    plan = _plan(qs["r1_scan_project"](spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "ReadSchema" in l)
    read = scan.split("ReadSchema:")[1]
    assert "l_quantity" in read and "l_extendedprice" in read
    # unprojected columns must not reach the scan
    assert "l_comment" not in read and "l_tax" not in read and "l_shipdate" not in read


def test_filter_pushdown(spark, sf_dir, qs):
    plan = _plan(qs["tpch_q6_revenue_delta"](spark, sf_dir))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_discount" in pushed and "l_quantity" in pushed


def test_dim_joins_broadcast(spark, sf_dir, qs):
    for name in ["tpch_q3_top_orders", "tpch_q5_nation_volume", "tpch_q10_returned_items"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_no_cartesian_products_anywhere(spark, sf_dir, qs):
    # similarity brute-force uses an explicit 1-row broadcast nested loop;
    # rank_correlation's Kendall stage is an inequality-only pair join
    # over the CHECKPOINTED 25-row nation aggregate (|nations|² = 625
    # rows by construction — bounded at every scale factor);
    # everything else must plan equi-joins
    for name, fn in qs.items():
        if name.startswith(("similarity", "multimodal_features", "forecast")):
            continue
        if name == "rank_correlation_nations":
            continue
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_semi_anti_join_shapes(spark, sf_dir, qs):
    # EXISTS/NOT EXISTS must plan as semi/anti joins (never a join +
    # distinct + filter) — at 100 TB the semi join stops early per match.
    plan = _plan(qs["tpch_q4_priority_semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan
    plan = _plan(qs["tpch_q22_dormant_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    plan = _plan(qs["tpch_q16_supplier_count"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir, qs):
    for name in ["tpch_q1_pricing_summary", "daily_shipping_series", "text_stats"]:
        plan = _plan(qs[name](spark, sf_dir), run=True)
        # codegen'd spans print as "*(n) Operator" in the final AQE plan
        assert "WholeStageCodegen" in plan or "*(" in plan, name


def test_lsh_self_join_reuses_exchange(spark, sf_dir, qs):
    # both sides of the band self-join are the same subplan; at shuffle-join
    # scale Spark must compute the signature once — either as a
    # ReusedExchange or (with the family cache_key, the shipped path) by
    # both sides reading the persisted banded stage. (At fixture scale AQE
    # broadcasts instead, so force the shuffle path the way a 100 TB
    # corpus would take it.)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(qs["dedup_minhash_lsh_pairs"](spark, sf_dir), run=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    reused = "ReusedExchange" in plan
    cached_both_sides = (
        plan.count("InMemoryTableScan") + plan.count("TableCacheQueryStage") >= 2
    )
    assert reused or cached_both_sides, plan[:500]


def test_plan_summary_helpers(spark, sf_dir, qs):
    from clickhouse_forecasting_spark.plans import plan_summary, scan_read_schemas

    s = plan_summary(qs["tpch_q3_top_orders"](spark, sf_dir))
    assert s["broadcast_joins"] >= 1 and s["cartesian_products"] == 0
    schemas = scan_read_schemas(qs["r1_scan_project"](spark, sf_dir))
    assert len(schemas) == 1 and "l_quantity" in schemas[0]


def test_asof_join_keyed(spark):
    """Bucketed as-of with partition keys: latest reading per sensor."""
    import datetime as dt

    from clickhouse_forecasting_spark.operators import asof_join

    readings = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 10), 100),
            ("a", dt.datetime(2024, 3, 5, 10), 300),   # earlier month bucket
            ("b", dt.datetime(2024, 2, 1, 10), 999),
        ],
        "k string, ts timestamp, val long",
    )
    probes = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 10)),   # equal ts -> included
            ("a", dt.datetime(2024, 2, 15, 0)),   # bucket with no readings -> carry
            ("a", dt.datetime(2024, 4, 1, 0)),    # carry across two buckets
            ("b", dt.datetime(2024, 1, 31, 0)),   # before any reading -> NULL
            ("b", dt.datetime(2024, 2, 2, 0)),
        ],
        "k string, t timestamp",
    )
    out = asof_join(
        probes, readings, left_ts="t", right_ts="ts", right_value="val", keys=["k"]
    )
    got = {(r["k"], r["t"]): r["asof_val"] for r in out.collect()}
    assert got[("a", dt.datetime(2024, 1, 1, 10))] == 100
    assert got[("a", dt.datetime(2024, 2, 15, 0))] == 100
    assert got[("a", dt.datetime(2024, 4, 1, 0))] == 300
    assert got[("b", dt.datetime(2024, 1, 31, 0))] is None
    assert got[("b", dt.datetime(2024, 2, 2, 0))] == 999


def test_range_join_points(spark):
    import datetime as dt

    from clickhouse_forecasting_spark.operators import range_join_points

    intervals = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 1, 12)),
            (2, dt.datetime(2024, 1, 1, 23), dt.datetime(2024, 1, 2, 1)),  # crosses midnight
            (3, dt.datetime(2024, 2, 1, 0), dt.datetime(2024, 2, 1, 1)),   # no points
        ],
        "iid long, w_start timestamp, w_end timestamp",
    )
    points = spark.createDataFrame(
        [
            (10, dt.datetime(2024, 1, 1, 10)),    # == start -> included
            (11, dt.datetime(2024, 1, 1, 12)),    # == end -> excluded
            (12, dt.datetime(2024, 1, 1, 23, 30)),
            (13, dt.datetime(2024, 1, 2, 0, 30)),  # next-day bucket, same interval
        ],
        "pid long, t timestamp",
    )
    out = range_join_points(intervals, points, "w_start", "w_end", "t")
    got = sorted((r["iid"], r["pid"]) for r in out.collect())
    assert got == [(1, 10), (2, 12), (2, 13)]


def test_asof_strategies_agree(spark, sf_dir):
    from clickhouse_forecasting_spark.operators import asof_join
    from clickhouse_forecasting_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    kw = dict(left_ts="o_orderdate", right_ts="ts", right_value="event_id")
    bucketed = {
        r["o_orderkey"]: r["asof_event_id"]
        for r in asof_join(orders, ev, **kw).collect()
    }
    global_ = {
        r["o_orderkey"]: r["asof_event_id"]
        for r in asof_join(orders, ev, strategy="global", **kw).collect()
    }
    assert bucketed == global_


def test_minhash_band_validation():
    """The LSH index constants cut the signature into whole bands: a band
    count that does not divide the hash count would silently drop the
    remainder hashes, and more bands than hashes would make every band key
    degenerate."""
    from clickhouse_forecasting_spark.functions.dedup import BANDS, NUM_HASHES

    assert 1 <= BANDS <= NUM_HASHES and NUM_HASHES % BANDS == 0


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime row-level filter: a selective filter on one join
    side is turned into a bloom filter probed by the OTHER side's scan,
    cutting shuffle volume before the join. At fixture scale the
    application-side size threshold (10 GB default) suppresses it — i.e.
    it is precisely a big-data optimization — so the test lowers the
    threshold to pin the behavior our 100 TB plans rely on."""
    from clickhouse_forecasting_spark.sources import read_table

    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled"
    ) == "true"
    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        filtered_count = j.count()
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
    # the bloom probe is a pure pre-filter: results identical without it
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    assert li.join(o, li.l_orderkey == o.o_orderkey).count() == filtered_count


def test_semdedup_pairwise_join_is_cluster_keyed_and_bounded(spark, sf_dir, qs):
    """SemDeDup's pairwise pass must stay an EQUI-join on cluster (the
    k ∝ n partition is what keeps it off O(n²)), and the in-plan
    assert_true cluster-size bound must actually be in the plan — a
    refactor that drops either silently reintroduces the quadratic
    blowup this query was redesigned to avoid."""
    df = qs["semdedup_clusters"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "BroadcastHashJoin" in l
            or "ShuffledHashJoin" in l)
    ]
    assert any("cluster" in l for l in join_lines), plan[:800]
    # assert_true compiles to an in-plan raise_error branch
    assert "raise_error" in plan, "cluster-size bound fell out of the plan"


def test_dynamic_partition_pruning_prunes_fact_reads(spark, sf_dir, tmp_path):
    """DPP: joining a date-PARTITIONED fact against a filtered dim must
    push a runtime subquery filter into the fact scan so non-matching
    partitions are never read — THE mechanism that turns a 100 TB
    date-partitioned fact join into a few-partition read. Pinned two
    ways: 'dynamicpruning' in the plan, and the executed scan reading
    strictly fewer files than the table holds (via query_metrics)."""
    from clickhouse_forecasting_spark.sources import read_table
    from clickhouse_forecasting_spark.telemetry import query_metrics

    o = read_table(spark, sf_dir, "orders")
    fact_path = str(tmp_path / "orders_by_year")
    o.withColumn("yr", F.year("o_orderdate")).write.partitionBy(
        "yr"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    n_years = fact.select("yr").distinct().count()
    # dim must come from storage: a literal dim constant-folds into a
    # STATIC partition filter (no DPP needed); a parquet-backed dim
    # filtered on a non-join column forces the runtime-subquery path
    dim_path = str(tmp_path / "year_dim")
    fact.select(F.col("yr").alias("d_yr")).distinct().withColumn(
        "tag", F.when(F.col("d_yr") == 1995, "pick").otherwise("skip")
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)
    j = fact.join(dim, fact.yr == dim.d_yr).where(F.col("tag") == "pick")
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:800]
    total = j.count()
    assert total == o.where(F.year("o_orderdate") == 1995).count()
    agg = j.groupBy("d_yr").count()
    agg.collect()
    m = query_metrics(agg)
    files_all = fact.groupBy().count()
    files_all.collect()
    m_all = query_metrics(files_all)
    # the pruned scan must read fewer files than a full-table scan
    assert 0 < m["files_read"] < m_all["files_read"], (
        m["files_read"],
        m_all["files_read"],
        n_years,
    )


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The three join-strategy hints must reach the physical plan — at
    100 TB, overriding the optimizer's choice (e.g. forcing a shuffle-
    hash join when the build side fits executor memory but exceeds the
    broadcast threshold) is a first-class tuning lever."""
    from clickhouse_forecasting_spark.sources import read_table

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    cases = [
        ("BROADCAST", "BroadcastHashJoin"),
        ("SHUFFLE_MERGE", "SortMergeJoin"),
        ("SHUFFLE_HASH", "ShuffledHashJoin"),
    ]
    for hint, operator in cases:
        j = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert operator in plan, (hint, plan[:400])


def test_no_single_partition_collapse_anywhere(spark, sf_dir, qs):
    """The round-5 headline pin: NO registered query may plan an
    Exchange SinglePartition fed by an unbounded frame — the global
    sort/window shape that lands 100 TB on one task. Bounded feeders
    (beneath an Aggregate/Limit, literal-sized leaves, checkpoints
    carrying a __bounded_* marker) are allowed; everything else must go
    through operators/ranking.py. Walks EVERY query (slow — it builds
    each plan, executing eager checkpoints); streaming entries without a
    batch plan are skipped exactly as in tools/gen_plans.py."""
    from clickhouse_forecasting_spark.plans import single_partition_collapses

    offenders = {}
    for name, fn in sorted(qs.items()):
        try:
            hits = single_partition_collapses(fn(spark, sf_dir))
        except Exception:
            continue  # no batch plan (streaming/stateful surface)
        if hits:
            offenders[name] = hits
    assert offenders == {}, f"single-partition collapses: {sorted(offenders)}"


def test_census_flags_genuine_collapses(spark, sf_dir):
    """Negative controls: the census must be LOUD on the anti-patterns,
    not just quiet on good plans. Three shapes, in escalating subtlety:
    a global window straight over the fact scan; a global window over a
    DATA-PROPORTIONAL aggregate (per-customer grain — the exact
    false-negative class the r5 Aggregate barrier hid and r6 removed);
    and the same window over a BOUNDED-grain aggregate, which must NOT
    flag."""
    from pyspark.sql import Window

    from clickhouse_forecasting_spark.plans import single_partition_collapses

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")

    # 1: unpartitioned window over the raw fact — always a collapse
    w = Window.orderBy("l_orderkey")
    bad_fact = li.withColumn("rn", F.row_number().over(w))
    assert single_partition_collapses(bad_fact), "fact-scan collapse missed"

    # 2: unpartitioned window over a per-customer aggregate — the r5
    # detector called this bounded; it is corpus-proportional
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    bad_agg = per_cust.withColumn(
        "rn", F.row_number().over(Window.orderBy("n", "o_custkey"))
    )
    assert single_partition_collapses(bad_agg), (
        "data-proportional aggregate treated as a boundedness barrier"
    )

    # 3: the same shape over a bounded grain (order status enum: 3
    # values) — legitimately bounded, must stay quiet
    per_status = o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    ok_agg = per_status.withColumn(
        "rn", F.row_number().over(Window.orderBy("n", "o_orderstatus"))
    )
    assert single_partition_collapses(ok_agg) == []

    # 3b: calendar grain through a computed cast — bounded
    per_day = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.count("*").alias("n"))
    ok_day = per_day.withColumn(
        "rn", F.row_number().over(Window.orderBy("d"))
    )
    assert single_partition_collapses(ok_day) == []


def test_census_key_grammar_units():
    """Unit pins for the bounded-grouping-key grammar on literal
    expression strings (no Spark session): each rule is domain
    arithmetic and must not drift."""
    from clickhouse_forecasting_spark.plans import _spc_key_bounded

    ctx = (
        "Project [cast((user_id#2L % 2) as int) AS arm#8, "
        "to_date(ts#7) AS day#9, "
        "CASE WHEN (t1#3 IS NOT NULL) THEN datediff(cast(t1#3 as date), cast(t0#4 as date)) "
        "ELSE datediff(h#5, cast(t0#4 as date)) END AS t#10, "
        "floor((cast(n_chars#6 as double) / 50.0)) AS bucket#11]\n"
        "HashAggregate(keys=[user_id#2L], functions=[min(cast(ts#7 as date))], "
        "output=[user_id#2L, fday#12])"
    )
    # literals / enums / markers
    assert _spc_key_bounded("5", ctx)
    assert _spc_key_bounded("o_orderstatus#1", ctx)
    assert _spc_key_bounded("__bounded_anything#3", ctx)
    # % literal and pmod
    assert _spc_key_bounded("(user_id#2L % 8)", ctx)
    assert _spc_key_bounded("pmod((x#1 - 1), 5)", ctx)
    assert not _spc_key_bounded("(a#1 % b#2)", ctx)  # non-literal modulus
    # calendar heads + cast-as-date
    assert _spc_key_bounded("year(o_orderdate#4)", ctx)
    assert _spc_key_bounded("cast(ts#7 as date)", ctx)
    assert _spc_key_bounded("datediff(cast(a#1 as date), cast(b#2 as date))", ctx)
    # alias resolution chains
    assert _spc_key_bounded("arm#8", ctx)  # -> cast(% 2) -> bounded
    assert _spc_key_bounded("day#9", ctx)  # -> to_date
    assert _spc_key_bounded("t#10", ctx)  # -> CASE of datediffs
    assert not _spc_key_bounded("bucket#11", ctx)  # floor(chars/50): data-prop
    # aggregate-output resolution: min() preserves its argument's domain
    assert _spc_key_bounded("fday#12", ctx)
    # unknown attribute: unbounded
    assert not _spc_key_bounded("doc_id#99L", ctx)
    # bounded ± literal
    assert _spc_key_bounded("(pmod(x#1, 5) + 1)", ctx)


def test_census_agg_output_resolution_refuses_folded_projections():
    """When Catalyst folds resultExpressions into the aggregate, the
    positional keys++functions mapping does not hold — resolution must
    refuse rather than guess (guessing once mapped arm -> user_id)."""
    from clickhouse_forecasting_spark.plans import _resolve_agg_output

    folded = (
        "HashAggregate(keys=[user_id#2L, _groupingexpression#115], "
        "functions=[sum(x#1), sum(y#2)], output=[arm#8, xc#9L, yc#10L])"
    )
    assert _resolve_agg_output("arm#8", folded) is None
    clean = (
        "HashAggregate(keys=[user_id#2L, _groupingexpression#115], "
        "functions=[sum(x#1), sum(y#2)], "
        "output=[user_id#2L, arm#8, xc#9L, yc#10L])"
    )
    assert _resolve_agg_output("arm#8", clean) == "_groupingexpression#115"


def test_no_bounded_enum_key_fanins_anywhere(spark, sf_dir, qs):
    """The r6 follow-on to the single-partition census: NO registered
    query may run a Window PARTITIONED BY only fixed-small-domain enum
    keys over a data-proportional frame — ≤|domain| tasks at any cluster
    size (5 segments = 5 tasks forever). 23 queries are rewritten onto
    the grouped ranking primitives to make this hold — including
    lateral_top_balances (r7): its ANSI-LATERAL SQL-text parity moved
    to tests/test_analytics_batch12.py::test_lateral_sql_text_parity,
    so the registry executes grouped_top_k and the allowlist is EMPTY."""
    from clickhouse_forecasting_spark.plans import bounded_key_fanins

    offenders = {}
    for name, fn in sorted(qs.items()):
        try:
            hits = bounded_key_fanins(fn(spark, sf_dir))
        except Exception:
            continue  # no batch plan (streaming/stateful surface)
        if hits:
            offenders[name] = hits
    assert offenders == {}, f"bounded-enum-key window fan-ins: {offenders}"


def _package_source_files():
    import glob
    import os

    import clickhouse_forecasting_spark as pkg

    root = os.path.dirname(pkg.__file__)
    return sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True))


def test_calendar_alias_naming_convention_is_honest():
    """The census trusts columns NAMED day/week/month/year as calendar
    grains (aggregate-output lineage is not printed in plans, so the
    naming convention is the contract — plans._SPC_CONVENTION_COLUMNS).
    This lint keeps the convention honest ACROSS EVERY PACKAGE MODULE
    (not just queries.py — a data-proportional column named `week`
    built in operators/ or sources/ would silently bound an unbounded
    frame): every `.alias("day"|"week"|"month"|"year")` must sit within
    a few lines of a calendar derivation (to_date / cast-to-date /
    date_format / date_trunc / date_add / datediff). Naming a doc_id
    column `day` would silently bound a data-proportional frame — it
    fails here first."""
    import re

    cal = re.compile(
        r"to_date|cast\(\"date\"\)|\.cast\('date'\)|cast\(.{0,40} as date\)"
        r"|date_format|date_trunc|date_add|datediff|weekday|weekofyear"
    )
    # negative control: the regex pair actually catches a violation
    assert re.search(r'alias\("(day|week|month|year)"\)',
                     'F.col("doc_id").alias("week")')
    assert not cal.search('F.col("doc_id").alias("week")')
    offenders = []
    for path in _package_source_files():
        src_lines = open(path).read().splitlines()
        for i, line in enumerate(src_lines):
            if not re.search(r'alias\("(day|week|month|year)"\)', line):
                continue
            window = "\n".join(src_lines[max(0, i - 12): i + 1])
            if not cal.search(window):
                offenders.append((path, i + 1, line.strip()[:80]))
    assert offenders == [], (
        "calendar-named aliases without a visible calendar derivation "
        f"(census naming convention violated): {offenders}"
    )


def test_enum_alias_naming_convention_is_honest():
    """The census also trusts columns NAMED lang/source (documents
    generator enums). The same naming-convention hole applies: aliasing
    a data-proportional expression to `source` anywhere in the package
    would silently bound an unbounded frame. Lint: every
    `.alias("lang"|"source")` / `withColumn("lang"|"source", …)` must
    be a PASSTHROUGH of the same-named column (a qualified reference
    like col("a.source") — domain-preserving by construction); any
    other producer fails here and must use a __bounded_* marker
    instead."""
    import re

    # negative control: a non-passthrough producer IS caught
    bad = 'F.concat("a", "b").alias("source")'
    assert re.search(r'(?:alias|withColumn)\("(lang|source)"', bad)
    assert not re.search(r'col\("(?:\w+\.)?source"\)', bad)
    offenders = []
    for path in _package_source_files():
        src_lines = open(path).read().splitlines()
        for i, line in enumerate(src_lines):
            m = re.search(
                r'(?:alias|withColumn)\("(lang|source)"', line
            )
            if not m:
                continue
            name = m.group(1)
            # passthrough: a reference to the same-named source column
            # on the same line (possibly alias-qualified)
            if re.search(
                rf'col\("(?:\w+\.)?{name}"\)', line
            ) or re.search(rf'F\.col\("(?:\w+\.)?{name}"\)', line):
                continue
            offenders.append((path, i + 1, line.strip()[:80]))
    assert offenders == [], (
        "lang/source aliases that are not same-column passthroughs "
        f"(census naming convention violated): {offenders}"
    )


def test_tpch_trusted_alias_naming_convention_is_honest():
    """The census's remaining trusted names are the TPC-H columns in
    plans.BOUNDED_COLUMN_DOMAINS — aliasing a data-proportional
    expression to e.g. `p_brand` would bound an unbounded frame just
    like the lang/source hole. Lint: every alias to a trusted TPC-H
    name must be a same-column passthrough (col("[q.]name")) or a
    calendar coarsening of the same column (to_date/date_trunc), both
    domain-preserving. Current sites: two to_date("o_orderdate") and a
    qualified n_name passthrough."""
    import re

    from clickhouse_forecasting_spark.plans import BOUNDED_COLUMN_DOMAINS

    names = "|".join(
        n for n in BOUNDED_COLUMN_DOMAINS if n not in ("lang", "source")
    )
    alias_re = re.compile(rf'(?:alias|withColumn)\("({names})"')
    # negative control: a non-passthrough producer IS caught
    assert alias_re.search('F.concat("a","b").alias("p_brand")')
    assert not re.search(
        r'(?:col|to_date|date_trunc)\("(?:\w+\.)?p_brand"',
        'F.concat("a","b").alias("p_brand")',
    )
    offenders = []
    for path in _package_source_files():
        for i, line in enumerate(open(path).read().splitlines()):
            m = alias_re.search(line)
            if not m:
                continue
            name = m.group(1)
            if re.search(
                rf'(?:col|to_date|date_trunc)\("(?:\w+\.)?{name}"', line
            ):
                continue
            offenders.append((path, i + 1, line.strip()[:80]))
    assert offenders == [], (
        "trusted TPC-H-name aliases that are not domain-preserving "
        f"passthroughs (census naming convention violated): {offenders}"
    )


def test_bounded_column_domains_hold(spark):
    """Probe the census's trust surface: every PROBEABLE entry of
    plans.BOUNDED_COLUMN_DOMAINS is measured against the largest
    fixture on disk — the observed distinct count must stay within the
    documented bound, so fixture/schema drift cannot silently unbound a
    'bounded' grouping key. One scan per table (all countDistinct in a
    single aggregate)."""
    import os

    from clickhouse_forecasting_spark.plans import BOUNDED_COLUMN_DOMAINS

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):  # pragma: no cover - driver always ships it
        pytest.skip("sf0.1 fixture not present")
    by_table: dict[str, list[tuple[str, int]]] = {}
    for col, (table, bound) in BOUNDED_COLUMN_DOMAINS.items():
        by_table.setdefault(table, []).append((col, bound))
    violations = []
    for table, cols in sorted(by_table.items()):
        df = spark.read.parquet(f"{sf}/{table}.parquet")
        row = df.agg(
            *[F.countDistinct(c).alias(c) for c, _ in cols]
        ).collect()[0]
        for c, bound in cols:
            if row[c] > bound:
                violations.append((table, c, row[c], bound))
    assert violations == [], (
        f"declared bounded domains exceeded by the fixture: {violations}"
    )


def test_bounded_column_domains_negative_control(spark):
    """The probe has teeth: a data-proportional column (o_orderkey) run
    through the same measurement EXCEEDS every declared bound — i.e.
    the test above cannot pass vacuously."""
    import os

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):  # pragma: no cover - driver always ships it
        pytest.skip("sf0.1 fixture not present")
    from clickhouse_forecasting_spark.plans import BOUNDED_COLUMN_DOMAINS

    biggest = max(b for _, b in BOUNDED_COLUMN_DOMAINS.values())
    n = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .agg(F.countDistinct("o_orderkey"))
        .collect()[0][0]
    )
    assert n > biggest


def test_window_before_checkpoint_sites_are_reviewed():
    """plans.single_partition_collapses audits the FINAL plan, so a global
    window computed BEFORE an eager localCheckpoint is invisible to it
    (this blind spot hid the old corpus-sized pooled ranks in
    quantile_normalization/wasserstein until r5). Every function that
    computes an unpartitioned window ahead of a checkpoint is hand-audited
    and pinned here — each current entry feeds the window from a
    calendar-bounded daily aggregate (_daily_cents/_orders_daily), never a
    fact/corpus frame. Growing this list is a deliberate act of review."""
    import os
    import re

    import clickhouse_forecasting_spark.queries as q

    qdir = os.path.dirname(q.__file__)
    src = "".join(
        open(os.path.join(qdir, p + ".py")).read() for p in q._PARTS
    )
    flagged = set()
    for f in re.split(r"(?=^def )", src, flags=re.M):
        name = f.split("(")[0].replace("def ", "").strip()
        if not name.startswith("q_") or "localCheckpoint" not in f:
            continue
        sites = [
            f.find("Window.orderBy("),
            f.find("Window.partitionBy()"),
            f.find("Window.rangeBetween"),
        ]
        gw = min((x for x in sites if x >= 0), default=-1)
        if gw >= 0 and gw < f.find("localCheckpoint"):
            flagged.add(name)
    assert flagged == {
        "q_bootstrap_ci_daily_mean",   # day-grain resample index
        "q_hurst_exponent_daily",      # day-grain series index
        "q_ljung_box_daily",           # day-grain series index
        "q_naive_baseline_scorecard",  # day-grain lag-7 baseline
    }, flagged
