# streaming state at scale + wire-schema twins
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, completed): it
# imports its dependencies explicitly; __init__.py merges its names
# into the shared package namespace so the registry and cross-family
# consumers see them exactly as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import multimodal as MM
from ..functions import dedup as DD
from ..functions import text as TX
from ..functions.text import STOPWORDS
from ..operators import ranking as RK
from .catalog_relational import _t
from .dedup_ann_scale import _JACCARD_SQL
from .multimodal_similarity import _MM_IMAGE_SQL
from .text_analysis import _TOKS_SQL
# --------------------------------------------------------------------------
# streaming state at scale (r5): the forecast/dedup scale-proof treatment
# applied to the stateful streaming surface. SCALING.md claims "event-time
# TTL caps the store at the ACTIVE user population" — this makes the claim
# an oracle-checkable number: a deterministic 4,000-user corpus (cohort A
# goes idle on day 1, cohort B keeps streaming through day 6) replays
# through the real applyInPandasWithState sessionizer with a 1-day TTL, and
# the FINAL state-store row count (StreamingQueryProgress.stateOperators
# numRowsTotal) must equal |B| exactly — A's 2,000 states evicted by the
# watermark, never resident at the end. The emitted totals simultaneously
# hash-match exact batch sessionization of the same events in DuckDB.
# --------------------------------------------------------------------------

_SSB_USERS = 4_000          # cohort A = u < 2000 (idle after day 1), B = rest
_SSB_COHORT = 2_000
# per-user event epochs (u seconds added per user; relative gaps identical
# for every user, so session structure is uniform and exactly computable)
_SSB_DAY1 = [1704103200, 1704103800, 1704110400]   # 2024-01-01 10:00/10:10/12:00 UTC
_SSB_DAY5 = [1704448800, 1704449400]               # 2024-01-05 10:00/10:10 UTC
_SSB_DAY6 = [1704535200]                           # 2024-01-06 10:00 UTC


def _ssb_events(spark: SparkSession, epochs: list[int], b_only: bool) -> DataFrame:
    u = spark.range(_SSB_USERS).select(F.col("id").alias("user_id"))
    if b_only:
        u = u.filter(F.col("user_id") >= _SSB_COHORT)
    frames = [
        u.select(
            "user_id",
            F.timestamp_seconds(F.lit(int(e)) + F.col("user_id")).alias("ts"),
        )
        for e in epochs
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def q_streaming_state_bound_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-bound scale proof: real availableNow replay of the
    applyInPandasWithState sessionizer (gap 1800 s, event-time TTL 1 day)
    over the deterministic two-cohort corpus above, one micro-batch per
    staged file (mtime-ordered, maxFilesPerTrigger=1) so the watermark
    advances day1 → day5 → day6 and cohort A's 2,000 idle states are
    EVICTED in the day-6 batch. Emits one summary row: user/session/event
    totals recovered from the update-mode sink (per-user running maxima =
    final totals) plus the final state-store row count — which must equal
    the active cohort, 2,000, for the DuckDB twin's hash to match. The
    twin replays the session math exactly (epoch-integer lag-gap rule).
    The staged parquet dir and the memory-sink table are ephemeral: the
    summary is checkpointed, then both are torn down — repeated runs in
    one long session leak neither disk nor temp-view state."""
    import os
    import shutil
    import tempfile

    from ..streaming.sessionize import sessionize_stream

    src = tempfile.mkdtemp(prefix="ssb_events_")
    name = "state_bound_audit_replay"
    try:
        staged: list[str] = []
        for i, (epochs, b_only) in enumerate(
            [(_SSB_DAY1, False), (_SSB_DAY5, True), (_SSB_DAY6, True)]
        ):
            before = set(os.listdir(src))
            _ssb_events(spark, epochs, b_only).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            new = [f for f in os.listdir(src) if f.endswith(".parquet") and f not in before]
            staged.extend(os.path.join(src, f) for f in new)
        # deterministic micro-batch order: FileStreamSource sorts by mtime
        base = 1_700_000_000
        for i, path in enumerate(staged):
            os.utime(path, (base + 10 * i, base + 10 * i))
        stream = (
            spark.readStream.schema("user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # r12 (VERDICT r11 #6): same state-shuffle sizing as the
        # closed-counts replay — the sessionizer's state is TTL-bounded
        # at the active-user population (≤4,000 rows here, the claim this
        # query audits), so each of the 3 micro-batches previously
        # committed 32 near-empty state stores where ≤8 carry it all.
        from ..streaming.replay import pinned_state_partitions

        with pinned_state_partitions(spark):
            q = (
                sessionize_stream(stream, ttl_seconds=86_400)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("state-bound replay did not finish in 300s")
        progress = q.lastProgress
        state_rows = int(progress["stateOperators"][0]["numRowsTotal"])
        per_user = (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_sessions").alias("n_sessions"),  # update-mode: monotone
                F.max("n_events").alias("n_events"),
            )
        )
        # materialize the 1-row summary so the sink table + staged files
        # can be dropped before returning the (lazy) result
        return per_user.agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_sessions").cast("bigint").alias("total_sessions"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.lit(state_rows).cast("bigint").alias("state_rows_final"),
            F.lit(_SSB_USERS).cast("bigint").alias("state_rows_all_time"),
        ).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(src, ignore_errors=True)


_STATE_BOUND_SQL = f"""
WITH u AS (SELECT i AS u FROM range({_SSB_USERS}) t(i)),
ev AS (
  SELECT u, {_SSB_DAY1[0]} + u AS ts FROM u
  UNION ALL SELECT u, {_SSB_DAY1[1]} + u FROM u
  UNION ALL SELECT u, {_SSB_DAY1[2]} + u FROM u
  UNION ALL SELECT u, {_SSB_DAY5[0]} + u FROM u WHERE u >= {_SSB_COHORT}
  UNION ALL SELECT u, {_SSB_DAY5[1]} + u FROM u WHERE u >= {_SSB_COHORT}
  UNION ALL SELECT u, {_SSB_DAY6[0]} + u FROM u WHERE u >= {_SSB_COHORT}),
s AS (
  SELECT u,
    CASE WHEN LAG(ts) OVER w IS NULL OR ts - LAG(ts) OVER w > 1800
         THEN 1 ELSE 0 END AS ns
  FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts)),
per AS (SELECT u, SUM(ns) AS n_sessions, COUNT(*) AS n_events FROM s GROUP BY u)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(n_sessions) AS BIGINT) AS total_sessions,
  CAST(SUM(n_events) AS BIGINT) AS total_events,
  CAST({_SSB_COHORT} AS BIGINT) AS state_rows_final,
  CAST({_SSB_USERS} AS BIGINT) AS state_rows_all_time
FROM per
"""


def q_global_rank_price_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL RANK/DENSE_RANK parity through the DISTRIBUTED ranking family
    (operators/ranking.global_rank): order totals (exact cents) ranked
    globally with ties — the 15 cheapest distinct price points with their
    dense index, gapped rank, and multiplicity. RANK reduces tie groups
    via a partitioned min-row_number (never a single-partition window);
    DENSE_RANK ranks only the distinct-value frame. Integer outputs keep
    the hash exact against DuckDB's native window functions."""
    o = _t(spark, sf_dir, "orders")
    sel = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        "o_orderkey",
    )
    # NO dispatch here: the rank keys are near-unique price cents, so the
    # per-key aggregate global_rank probes is itself fact-proportional —
    # the probe would pay a full cache write of a fact-grain frame (the
    # dispatch_small anti-case), and the r11 isolated A/B measured the
    # dispatched form as a wash-to-regression (3.10 -> 3.52 s min).
    rnk = RK.global_rank(sel, ["c"], "rnk")
    drk = RK.global_rank(sel, ["c"], "drk", dense=True)
    per = (
        rnk.groupBy("c")
        .agg(F.min("rnk").alias("rnk"), F.count("*").cast("bigint").alias("n_orders"))
        .join(drk.select("c", "drk").distinct(), "c")
    )
    return (
        per.filter(F.col("drk") <= 15)
        .select(
            F.col("drk").cast("bigint").alias("dense_rank"),
            F.col("c").alias("cents"),
            F.col("rnk").cast("bigint").alias("rank"),
            "n_orders",
        )
        .orderBy("dense_rank")
    )


_GLOBAL_RANK_SQL = """
WITH r AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
    RANK() OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rnk,
    DENSE_RANK() OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS drk
  FROM orders),
per AS (
  SELECT c, MIN(rnk) AS rnk, MIN(drk) AS drk, COUNT(*) AS n_orders
  FROM r GROUP BY c)
SELECT CAST(drk AS BIGINT) AS dense_rank, c AS cents,
  CAST(rnk AS BIGINT) AS rank, CAST(n_orders AS BIGINT) AS n_orders
FROM per WHERE drk <= 15 ORDER BY dense_rank
"""


def q_quantiles_exclusive_inclusive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse ``quantileExactInclusive`` / ``quantileExactExclusive``
    parity (= Excel PERCENTILE.INC/EXC) per market segment on
    account-balance cents: inclusive ranks at h=(n−1)q+1, exclusive at
    h=(n+1)q clamped to [1, n], both linearly interpolated between the
    two bracketing ORDER STATISTICS — computed by element lookup in the
    per-segment sorted array (segments are bounded dimension groups;
    the unbounded-group scale path is the KLL sketch in
    sketch_value_quantiles). Integer cents keep the order statistics
    exact; the interpolation arithmetic is expression-identical on both
    engines."""
    cust = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    per = cust.groupBy("c_mktsegment").agg(
        F.sort_array(F.collect_list(cents)).alias("v"),
        F.count("*").alias("n"),
    )
    cols = [F.col("c_mktsegment"), F.col("n").cast("bigint").alias("n")]
    for q, nm in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75")):
        for excl, tag in ((False, "inc"), (True, "exc")):
            if excl:
                h = F.lit(q) * (F.col("n") + 1)
                h = F.greatest(F.least(h, F.col("n").cast("double")), F.lit(1.0))
            else:
                h = F.lit(q) * (F.col("n") - 1) + 1
            lo = F.floor(h).cast("int")
            hi = F.ceil(h).cast("int")
            vlo = F.element_at(F.col("v"), lo).cast("double")
            vhi = F.element_at(F.col("v"), hi).cast("double")
            val = (vlo + (h - lo.cast("double")) * (vhi - vlo)) / 100.0
            cols.append(F.round(val, 6).alias(f"{nm}_{tag}"))
    return per.select(*cols).orderBy("c_mktsegment")


def _quantile_ie_sql() -> str:
    parts = []
    for q, nm in ((0.25, "q25"), (0.5, "q50"), (0.75, "q75")):
        for excl, tag in ((False, "inc"), (True, "exc")):
            if excl:
                h = f"greatest(least({q} * (n + 1), CAST(n AS DOUBLE)), 1.0)"
            else:
                h = f"{q} * (n - 1) + 1"
            parts.append(
                f"ROUND((CAST(v[CAST(FLOOR({h}) AS INT)] AS DOUBLE)"
                f" + ({h} - CAST(CAST(FLOOR({h}) AS INT) AS DOUBLE))"
                f" * (CAST(v[CAST(CEIL({h}) AS INT)] AS DOUBLE)"
                f" - CAST(v[CAST(FLOOR({h}) AS INT)] AS DOUBLE))) / 100.0, 6)"
                f" AS {nm}_{tag}"
            )
    sel = ",\n  ".join(parts)
    return f"""
WITH per AS (
  SELECT c_mktsegment,
    list(CAST(ROUND(c_acctbal * 100) AS BIGINT)
         ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS v,
    COUNT(*) AS n
  FROM customer GROUP BY 1)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
  {sel}
FROM per ORDER BY c_mktsegment
"""


_QUANTILE_IE_SQL = _quantile_ie_sql()


def q_age_unit_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``age(unit, d1, d2)`` parity — FULL elapsed units
    (unlike dateDiff's boundary-crossing count): per order, the span
    from order date to its last line's ship date in full days, weeks,
    and months (months via the calendar rule: 12·Δy + Δm − 1 if the
    end day-of-month hasn't reached the start's). Reported per order
    priority: averages scaled to exact integer milli-units plus the
    max-days witness. One fact-fact span aggregation, one rollup."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    spans = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("d2")
    )
    j = o.select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("d1"),
    ).join(spans, F.col("o_orderkey") == F.col("l_orderkey"))
    j = j.select(
        "o_orderpriority", "d1", F.greatest("d2", "d1").alias("d2")
    )
    days = F.datediff("d2", "d1")
    months = (
        (F.year("d2") - F.year("d1")) * 12
        + (F.month("d2") - F.month("d1"))
        - F.when(F.dayofmonth("d2") < F.dayofmonth("d1"), 1).otherwise(0)
    )
    b = j.select(
        "o_orderpriority",
        days.alias("age_days"),
        F.floor(days / 7).alias("age_weeks"),
        months.alias("age_months"),
    )
    return (
        b.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr("sum(age_days) * 1000 div count(*)")
            .cast("bigint")
            .alias("avg_age_days_milli"),
            F.expr("sum(age_weeks) * 1000 div count(*)")
            .cast("bigint")
            .alias("avg_age_weeks_milli"),
            F.expr("sum(age_months) * 1000 div count(*)")
            .cast("bigint")
            .alias("avg_age_months_milli"),
            F.max("age_days").cast("bigint").alias("max_age_days"),
        )
        .orderBy("o_orderpriority")
    )


_AGE_UNIT_SQL = """
WITH spans AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS d2
  FROM lineitem GROUP BY 1),
j AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS d1,
    greatest(s.d2, CAST(o_orderdate AS DATE)) AS d2
  FROM orders o JOIN spans s ON o.o_orderkey = s.l_orderkey),
b AS (
  SELECT o_orderpriority,
    date_diff('day', d1, d2) AS age_days,
    CAST(FLOOR(date_diff('day', d1, d2) / 7) AS BIGINT) AS age_weeks,
    (year(d2) - year(d1)) * 12 + (month(d2) - month(d1))
      - CASE WHEN day(d2) < day(d1) THEN 1 ELSE 0 END AS age_months
  FROM j)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(age_days) * 1000 // COUNT(*) AS BIGINT) AS avg_age_days_milli,
  CAST(SUM(age_weeks) * 1000 // COUNT(*) AS BIGINT)
    AS avg_age_weeks_milli,
  CAST(SUM(age_months) * 1000 // COUNT(*) AS BIGINT)
    AS avg_age_months_milli,
  CAST(MAX(age_days) AS BIGINT) AS max_age_days
FROM b GROUP BY 1 ORDER BY o_orderpriority
"""


def q_array_predicates_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse array-predicate family — ``hasAll``, ``hasAny``,
    ``hasSubstr`` (CONTIGUOUS subsequence), ``indexOf``, ``countEqual``
    — over each document's token list against fixed probes. hasSubstr
    is the real algorithm of the five: ∃i such that the length-m slice
    at i equals the probe (row-local O(n·m), m=2 here). Per-doc flags
    plus the corpus rollup would be a filter at 100 TB; emitted per doc
    for the hash gate."""
    docs = _t(spark, sf_dir, "documents")
    t = TX.tokens(F.col("text"))
    d = docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
    probe_all = F.array(F.lit("the"), F.lit("data"))
    probe_any = F.array(F.lit("spark"), F.lit("stream"), F.lit("batch"))
    sub = ["key", "order"]
    has_substr = F.when(
        F.col("n") >= len(sub),
        F.exists(
            F.sequence(F.lit(1), F.col("n") - (len(sub) - 1)),
            lambda i: (F.element_at(F.col("t"), i) == sub[0])
            & (F.element_at(F.col("t"), i + 1) == sub[1]),
        ),
    ).otherwise(F.lit(False))
    return d.select(
        "doc_id",
        (F.size(F.array_intersect(F.array_distinct("t"), probe_all)) == 2)
        .cast("int")
        .alias("has_all"),
        F.arrays_overlap("t", probe_any).cast("int").alias("has_any"),
        has_substr.cast("int").alias("has_substr_key_order"),
        F.array_position("t", "join").cast("bigint").alias("index_of_join"),
        F.size(F.filter("t", lambda x: x == F.lit("merge")))
        .cast("bigint")
        .alias("count_equal_merge"),
    ).orderBy("doc_id")


_ARRAY_PRED_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKS_SQL} AS t, len({_TOKS_SQL}) AS n
           FROM documents)
SELECT doc_id,
  CAST(len(list_intersect(list_distinct(t), ['the', 'data'])) = 2 AS INT)
    AS has_all,
  CAST(len(list_intersect(t, ['spark', 'stream', 'batch'])) > 0 AS INT)
    AS has_any,
  CAST(CASE WHEN n >= 2 THEN len(list_filter(generate_series(1, n - 1),
    i -> t[i] = 'key' AND t[i + 1] = 'order')) > 0 ELSE FALSE END AS INT)
    AS has_substr_key_order,
  CAST(list_position(t, 'join') AS BIGINT) AS index_of_join,
  CAST(len(list_filter(t, x -> x = 'merge')) AS BIGINT)
    AS count_equal_merge
FROM d ORDER BY doc_id
"""


def q_bit_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``bitCount`` parity: popcount of the props key,
    histogrammed — per popcount: occurrences, distinct k values, and
    min/max witnesses. bit_count is a native expression on both engines
    (Spark ``bit_count``, DuckDB ``bit_count`` over BIT) — spelled here
    with the same builtin; one tiny keyed aggregation."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    b = ev.select(F.bit_count(k).alias("pop"), k.alias("k"))
    return (
        b.groupBy("pop")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .select(F.col("pop").cast("bigint").alias("pop"), "n",
                "n_distinct_k", "min_k", "max_k")
        .orderBy("pop")
    )


_BIT_COUNT_SQL = """
WITH b AS (
  SELECT bit_count(CAST(CAST(json_extract(props, '$.k') AS BIGINT)
                        AS BIT)) AS pop,
    CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT CAST(pop AS BIGINT) AS pop, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
  CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
FROM b GROUP BY pop ORDER BY pop
"""


def q_power_of_two_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``roundToExp2`` parity: order totals (cents) bucketed
    to their previous power of two — the log-scale histogram that keeps
    a constant bucket count regardless of value range (the right
    money/latency histogram at 100 TB: ≤64 buckets, map-side
    combinable). The exponent comes from integer bit-length, not
    floating log2 (log2(2^53±ε) rounds wrong at bucket edges); both
    engines spell FLOOR(LOG2) over an exact small int via a 63-step
    CASE-free trick: length of the binary representation."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    # bit_length of the value = floor(log2) + 1, exactly, via the
    # engine's binary formatter — no floating point near bucket edges
    exp = (F.length(F.conv(cents, 10, 2)) - 1).cast("int")
    b = o.select(exp.alias("e"), cents.alias("c"))
    return (
        b.groupBy("e")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("sum_cents"),
            F.min("c").cast("bigint").alias("min_cents"),
            F.max("c").cast("bigint").alias("max_cents"),
        )
        .select(
            F.col("e").cast("bigint").alias("exp2"),
            F.pow(F.lit(2.0), F.col("e")).cast("bigint").alias("bucket_lo"),
            "n",
            "sum_cents",
            "min_cents",
            "max_cents",
        )
        .orderBy("exp2")
    )


_POW2_HIST_SQL = """
WITH b AS (
  SELECT length(bin(CAST(ROUND(o_totalprice * 100) AS BIGINT))) - 1 AS e,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
  FROM orders)
SELECT CAST(e AS BIGINT) AS exp2,
  CAST(power(2.0, e) AS BIGINT) AS bucket_lo,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT) AS sum_cents,
  CAST(MIN(c) AS BIGINT) AS min_cents,
  CAST(MAX(c) AS BIGINT) AS max_cents
FROM b GROUP BY e ORDER BY exp2
"""


def q_heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (V = K·N^β) over the corpus read in
    doc_id order: cumulative distinct vocabulary is computed WITHOUT a
    running-distinct scan — each token contributes at its FIRST document
    (one groupBy-min over exploded (token, doc) pairs), so cum_vocab is
    a cumulative sum of per-doc first-occurrence counts — computed
    DISTRIBUTED (operators/ranking.global_running_sum: per-partition
    running sums + broadcast prefix totals, no single-partition window).
    Checkpoints every 50 docs carry (N, V) plus the corpus-level
    log-log OLS fit (β, ln K) attached from a broadcast 1-row moment
    aggregate. The explode + min shuffle is the only fact-scale work —
    the classic tokenizer-budget forecasting curve for training
    corpora."""
    docs = _t(spark, sf_dir, "documents")
    t = TX.tokens(F.col("text"))
    d = docs.select("doc_id", t.alias("t"), F.size(t).alias("n_toks"))
    first = (
        d.select("doc_id", F.explode(F.array_distinct("t")).alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count("*").alias("new_vocab"))
    )
    joined = (
        d.select("doc_id", "n_toks")
        .join(first, "doc_id", "left")
        .select(
            "doc_id", "n_toks",
            F.coalesce("new_vocab", F.lit(0)).alias("new_vocab"),
        )
    )
    cum = RK.global_running_sum(
        joined, ["doc_id"], ["n_toks", "new_vocab"],
        ["cum_tokens", "cum_vocab"],
    ).where(F.col("doc_id") % 50 == 49)
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("cum_vocab").cast("double"))
    cp = cum.select(
        "doc_id",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        x.alias("lx"), y.alias("ly"),
    )
    moments = cp.agg(
        F.count("*").cast("double").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    fit = cp.crossJoin(F.broadcast(moments)).select(
        "doc_id", "cum_tokens", "cum_vocab", "m", "sx", "sy", "sxx", "sxy"
    )
    beta = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    lnk = (F.col("sy") - beta * F.col("sx")) / F.col("m")
    return fit.select(
        "doc_id",
        "cum_tokens",
        "cum_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(lnk, 6).alias("heaps_ln_k"),
    ).orderBy("doc_id")


_HEAPS_SQL = f"""
WITH d AS (
  SELECT doc_id, {_TOKS_SQL} AS t, len({_TOKS_SQL}) AS n_toks
  FROM documents),
first AS (
  SELECT first_doc AS doc_id, COUNT(*) AS new_vocab FROM (
    SELECT tok, MIN(doc_id) AS first_doc FROM (
      SELECT doc_id, unnest(list_distinct(t)) AS tok FROM d)
    GROUP BY tok)
  GROUP BY first_doc),
cum AS (
  SELECT d.doc_id,
    SUM(d.n_toks) OVER (ORDER BY d.doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum_tokens,
    SUM(COALESCE(f.new_vocab, 0)) OVER (ORDER BY d.doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum_vocab
  FROM d LEFT JOIN first f ON d.doc_id = f.doc_id),
cp AS (SELECT * FROM cum WHERE doc_id % 50 = 49),
fit AS (
  SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens,
    CAST(cum_vocab AS BIGINT) AS cum_vocab,
    CAST(COUNT(*) OVER () AS DOUBLE) AS m,
    SUM(ln(CAST(cum_tokens AS DOUBLE))) OVER () AS sx,
    SUM(ln(CAST(cum_vocab AS DOUBLE))) OVER () AS sy,
    SUM(ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_tokens AS DOUBLE)))
      OVER () AS sxx,
    SUM(ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_vocab AS DOUBLE)))
      OVER () AS sxy
  FROM cp)
SELECT doc_id, cum_tokens, cum_vocab,
  ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS heaps_beta,
  ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 6)
    AS heaps_ln_k
FROM fit ORDER BY doc_id
"""


def q_jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection distortion report: the
    64-dim embeddings project to 8 dims through deterministic ±1
    hyperplanes (sign = parity of md5(plane_i), the same seedless
    derivation the LSH family uses), and every pair among the 20
    lowest-id vectors reports original vs projected L2 and the
    distortion ratio. Projections are row-local ordered folds
    (bit-identical both engines); the pair stage runs on the broadcast
    20-row frame. The report quantifies exactly what the 8× cheaper
    ANN shuffle costs in distance fidelity."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    n_planes = 8
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )

    def proj(p: int):
        signed = F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: F.element_at(F.col("embedding"), i).cast("double")
            * F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit(f"jl_{p}_"), i.cast("string"))
                        ),
                        1,
                        2,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                1.0,
            ).otherwise(-1.0),
        )
        return fold(signed) / F.lit(float(n_planes) ** 0.5)

    pr = emb.select(
        "vec_id",
        F.col("embedding").alias("e"),
        F.array(*[proj(p) for p in range(n_planes)]).alias("pr"),
    )
    a = pr.select(
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("pr").alias("pa"),
    )
    b = pr.select(
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("pr").alias("pb"),
    )
    d_orig = F.sqrt(
        fold(
            F.zip_with(
                "ea",
                "eb",
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            )
        )
    )
    d_proj = F.sqrt(
        fold(F.zip_with("pa", "pb", lambda x, y: (x - y) * (x - y)))
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(d_orig, 6).alias("l2_orig"),
            F.round(d_proj, 6).alias("l2_proj"),
            F.round(d_proj / d_orig, 4).alias("distortion"),
        )
        .orderBy("id_a", "id_b")
    )


def _jl_sql() -> str:
    projs = ", ".join(
        f"""list_sum(list_transform(generate_series(1, len(embedding)),
      i -> embedding[i]::DOUBLE *
        (CASE WHEN ('0x' || substr(md5('jl_{p}_' || CAST(i AS VARCHAR)),
             1, 2))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END)))
      / sqrt(8.0)"""
        for p in range(8)
    )
    return f"""
WITH pr AS (
  SELECT vec_id, embedding AS e, [{projs}] AS pr
  FROM embeddings WHERE vec_id < 20)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(sqrt(list_sum(list_transform(generate_series(1, len(a.e)),
    i -> (a.e[i]::DOUBLE - b.e[i]::DOUBLE)
       * (a.e[i]::DOUBLE - b.e[i]::DOUBLE)))), 6) AS l2_orig,
  ROUND(sqrt(list_sum(list_transform(generate_series(1, 8),
    i -> (a.pr[i] - b.pr[i]) * (a.pr[i] - b.pr[i])))), 6) AS l2_proj,
  ROUND(sqrt(list_sum(list_transform(generate_series(1, 8),
      i -> (a.pr[i] - b.pr[i]) * (a.pr[i] - b.pr[i]))))
    / sqrt(list_sum(list_transform(generate_series(1, len(a.e)),
      i -> (a.e[i]::DOUBLE - b.e[i]::DOUBLE)
         * (a.e[i]::DOUBLE - b.e[i]::DOUBLE)))), 4) AS distortion
FROM pr a JOIN pr b ON a.vec_id < b.vec_id
ORDER BY id_a, id_b
"""


_JL_SQL = _jl_sql()


def q_bag_set_ops_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operators (``INTERSECT ALL`` / ``EXCEPT ALL`` —
    the multiplicity-preserving flavors ClickHouse and ANSI SQL define
    next to the DISTINCT ones): daily order-priority multisets of 1996
    vs 1997, sized via the standard per-key count identity
    (∩ALL = Σ min(c₁, c₂); ∖ALL = Σ max(c₁−c₂, 0)) — one count
    aggregation per side and a tiny 5-row join, never a row-level
    set-op shuffle. DISTINCT flavors reported alongside for the
    semantic contrast."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")

    def side(y):
        return (
            o.where(yr == y)
            .groupBy(F.col("o_orderpriority").alias("p"))
            .agg(F.count("*").alias("c"))
        )

    a = side(1996).select("p", F.col("c").alias("ca"))
    b = side(1997).select("p", F.col("c").alias("cb"))
    j = a.join(b, "p", "full").select(
        "p",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    return j.agg(
        F.sum("ca").cast("bigint").alias("n_1996"),
        F.sum("cb").cast("bigint").alias("n_1997"),
        F.sum(F.least("ca", "cb")).cast("bigint").alias("intersect_all"),
        F.sum(F.greatest(F.col("ca") - F.col("cb"), F.lit(0)))
        .cast("bigint")
        .alias("except_all_1996"),
        F.sum(F.greatest(F.col("cb") - F.col("ca"), F.lit(0)))
        .cast("bigint")
        .alias("except_all_1997"),
        F.sum(((F.col("ca") > 0) & (F.col("cb") > 0)).cast("int"))
        .cast("bigint")
        .alias("intersect_distinct"),
        F.sum(((F.col("ca") > 0) & (F.col("cb") == 0)).cast("int"))
        .cast("bigint")
        .alias("except_distinct_1996"),
    )


_BAG_SET_OPS_SQL = """
WITH a AS (
  SELECT o_orderpriority AS p, COUNT(*) AS ca FROM orders
  WHERE year(o_orderdate) = 1996 GROUP BY 1),
b AS (
  SELECT o_orderpriority AS p, COUNT(*) AS cb FROM orders
  WHERE year(o_orderdate) = 1997 GROUP BY 1),
j AS (
  SELECT COALESCE(a.p, b.p) AS p, COALESCE(ca, 0) AS ca,
    COALESCE(cb, 0) AS cb
  FROM a FULL JOIN b ON a.p = b.p)
SELECT CAST(SUM(ca) AS BIGINT) AS n_1996,
  CAST(SUM(cb) AS BIGINT) AS n_1997,
  CAST(SUM(least(ca, cb)) AS BIGINT) AS intersect_all,
  CAST(SUM(greatest(ca - cb, 0)) AS BIGINT) AS except_all_1996,
  CAST(SUM(greatest(cb - ca, 0)) AS BIGINT) AS except_all_1997,
  CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS intersect_distinct,
  CAST(SUM(CASE WHEN ca > 0 AND cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS except_distinct_1996
FROM j
"""


def q_matryoshka_truncation_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-embedding truncation fidelity: cosine similarity over
    the first d ∈ {8, 16, 32, 64} dimensions vs the full 64-dim cosine,
    for every pair among the 20 lowest-id vectors — mean absolute
    cosine delta and worst-pair delta per d. This is the storage/recall
    dial of truncation-tolerant embeddings (prefix dims ≙ coarse
    search, full dims ≙ rerank); folds are ordered and row-local, the
    pair stage is the broadcast 20-row frame."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )

    def cos(ea, eb, d):
        sa = F.slice(ea, 1, d)
        sb = F.slice(eb, 1, d)
        dot = fold(
            F.zip_with(
                sa, sb, lambda x, y: x.cast("double") * y.cast("double")
            )
        )
        na = F.sqrt(
            fold(F.transform(sa, lambda x: x.cast("double") * x.cast("double")))
        )
        nb = F.sqrt(
            fold(F.transform(sb, lambda x: x.cast("double") * x.cast("double")))
        )
        return dot / (na * nb)

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    full = cos(F.col("ea"), F.col("eb"), 64)
    rows = []
    for d in (8, 16, 32, 64):
        delta = F.abs(cos(F.col("ea"), F.col("eb"), d) - full)
        rows.append(
            F.struct(
                F.lit(d).alias("dims"),
                delta.alias("delta"),
            )
        )
    ex = pairs.select(
        F.explode(F.array(*rows)).alias("r")
    ).select(F.col("r.dims").alias("dims"), F.col("r.delta").alias("delta"))
    return (
        ex.groupBy("dims")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                (
                    F.sum(F.round(F.col("delta") * 1e9).cast("decimal(38,0)"))
                    .cast("double")
                    / F.count("*")
                )
                / 1e9,
                6,
            ).alias("mean_abs_delta"),
            F.round(F.max("delta"), 6).alias("max_abs_delta"),
        )
        .select(
            F.col("dims").cast("bigint").alias("dims"),
            "n_pairs",
            "mean_abs_delta",
            "max_abs_delta",
        )
        .orderBy("dims")
    )


def _matryoshka_sql() -> str:
    def cos(d):
        return f"""(list_sum(list_transform(generate_series(1, {d}),
      i -> a.ea[i]::DOUBLE * b.eb[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(list_slice(a.ea, 1, {d}),
           x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(list_slice(b.eb, 1, {d}),
           x -> x::DOUBLE * x::DOUBLE)))))"""

    branches = "\nUNION ALL\n".join(
        f"SELECT {d} AS dims, abs({cos(d)} - {cos(64)}) AS delta "
        f"FROM a JOIN b ON a.id_a < b.id_b"
        for d in (8, 16, 32, 64)
    )
    return f"""
WITH a AS (SELECT vec_id AS id_a, embedding AS ea FROM embeddings
           WHERE vec_id < 20),
b AS (SELECT vec_id AS id_b, embedding AS eb FROM embeddings
      WHERE vec_id < 20),
ex AS ({branches})
SELECT CAST(dims AS BIGINT) AS dims,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND((CAST(SUM(CAST(ROUND(delta * 1e9) AS DECIMAL(38,0))) AS DOUBLE)
         / COUNT(*)) / 1e9, 6) AS mean_abs_delta,
  ROUND(MAX(delta), 6) AS max_abs_delta
FROM ex GROUP BY dims ORDER BY dims
"""


_MATRYOSHKA_SQL = _matryoshka_sql()


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI curve: how many near-dup pairs/docs each Jaccard
    threshold (0.5→0.9) removes, from ONE LSH-candidate + exact-verify
    pass (rides the shared persisted signature/shingle stages — the
    corpus is never re-scanned per threshold). Removal follows the
    min-id-keeper rule (a doc is dropped iff it pairs at ≥t with a
    smaller id). This is the knob-tuning readout before committing a
    100 TB dedup run: pair volume and survivor count per threshold,
    exact."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar for the survivor ratio (bounded read)
    pairs = DD.lsh_verified_pairs(docs, threshold=0.5, cache_key=sf_dir)
    aggs = []
    for t in (50, 60, 70, 80, 90):
        cond = F.col("jaccard") >= t / 100.0
        aggs.extend(
            [
                F.sum(cond.cast("int")).cast("bigint").alias(f"pairs_{t}"),
                F.countDistinct(F.when(cond, F.col("id_b")))
                .cast("bigint")
                .alias(f"removed_{t}"),
            ]
        )
    wide = pairs.agg(*aggs)
    rows = [
        F.struct(
            F.lit(t).alias("threshold_pct"),
            F.coalesce(F.col(f"pairs_{t}"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col(f"removed_{t}"), F.lit(0)).alias(
                "n_docs_removed"
            ),
        )
        for t in (50, 60, 70, 80, 90)
    ]
    return (
        wide.select(F.explode(F.array(*rows)).alias("r"))
        .select(
            F.col("r.threshold_pct").cast("bigint").alias("threshold_pct"),
            F.col("r.n_pairs").alias("n_pairs"),
            F.col("r.n_docs_removed").alias("n_docs_removed"),
            F.lit(n_docs).cast("bigint").alias("n_total_docs"),
            F.floor(
                (F.lit(n_docs) - F.col("r.n_docs_removed"))
                * 1000000
                / F.lit(n_docs)
            )
            .cast("bigint")
            .alias("survivor_ppm"),
        )
        .orderBy("threshold_pct")
    )


def _dedup_sweep_sql() -> str:
    # reuses the exact candidate/verify chain of _JACCARD_SQL (same
    # signature constants), swept over thresholds without a re-scan
    body = _JACCARD_SQL.split("SELECT id_a")[0]
    return f"""{body}
SELECT t AS threshold_pct,
  CAST(SUM(CASE WHEN jaccard >= t / 100.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pairs,
  CAST(COUNT(DISTINCT CASE WHEN jaccard >= t / 100.0 THEN id_b END)
       AS BIGINT) AS n_docs_removed,
  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_total_docs,
  CAST(FLOOR(((SELECT COUNT(*) FROM documents)
        - COUNT(DISTINCT CASE WHEN jaccard >= t / 100.0 THEN id_b END))
       * 1000000 / (SELECT COUNT(*) FROM documents)) AS BIGINT)
    AS survivor_ppm
FROM verified, unnest([50, 60, 70, 80, 90]) AS u(t)
GROUP BY t ORDER BY threshold_pct
"""


def q_group_array_sorted_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArraySorted(k)`` parity: per nation, the 5
    smallest customer account balances (cents) as a CSV array — the
    bounded-k sorted-aggregate that ships a top/bottom-k LIST per group
    without materializing the group (at scale the k-bounded heap state
    is what makes it one map-side-combinable pass). Tie-break is the
    value itself (duplicates keep multiplicity, exactly k survive)."""
    cust = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    return (
        cust.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list(cents)), 1, 5),
            ).alias("bottom5_cents_csv"),
        )
        .orderBy("nationkey")
    )


_GROUP_ARRAY_SORTED_SQL = """
SELECT c_nationkey AS nationkey,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  array_to_string(list_slice(
    list(CAST(ROUND(c_acctbal * 100) AS BIGINT)
         ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT)), 1, 5), ',')
    AS bottom5_cents_csv
FROM customer GROUP BY 1 ORDER BY nationkey
"""


def q_deterministic_sample_quantile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse ``quantileDeterministic(x, determinator)`` semantics:
    a REPRODUCIBLE sampled quantile — the sample is selected by a hash
    of the determinator column (event_id), never by an RNG, so any
    engine / partition order / rerun draws the identical sample. Per
    event type: the exact p50 of value-cents on the full data, the
    exact p50 on the 1-in-8 hash sample, and the absolute error — the
    accuracy-vs-cost readout. Both quantiles are discrete order
    statistics (rank ceil(n/2)) via one window pass each."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    sampled = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
               16, 10).cast("bigint") % 8 == 0
    )
    b = ev.select("event_type", cents.alias("c"), sampled.alias("s"))

    def p50(df, tag):
        # discrete p50: value at rank ceil(n/2) in (c) order — the
        # SELECTED VALUE is tie-insensitive (row_number among equal c
        # always lands on the same c), so no tie-break column is needed
        w = Window.partitionBy("event_type").orderBy("c")
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
            .where(F.col("rn") == F.ceil(F.col("n") / 2))
            .select("event_type", F.col("c").alias(tag),
                    F.col("n").cast("bigint").alias(f"n_{tag}"))
        )

    full = p50(b, "p50_full")
    samp = p50(b.where("s"), "p50_sample")
    return (
        full.join(samp, "event_type")
        .select(
            "event_type",
            "n_p50_full",
            "n_p50_sample",
            "p50_full",
            "p50_sample",
            F.abs(F.col("p50_full") - F.col("p50_sample")).alias("abs_err"),
        )
        .orderBy("event_type")
    )


_DET_SAMPLE_QUANTILE_SQL = """
WITH b AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c,
    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 8 = 0
      AS s
  FROM events),
fq AS (
  SELECT event_type, c AS p50_full, CAST(n AS BIGINT) AS n_p50_full FROM (
    SELECT event_type, c,
      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
      COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM b)
  WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)),
sq AS (
  SELECT event_type, c AS p50_sample, CAST(n AS BIGINT) AS n_p50_sample
  FROM (
    SELECT event_type, c,
      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
      COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM b WHERE s)
  WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT))
SELECT f.event_type, f.n_p50_full, s.n_p50_sample, f.p50_full,
  s.p50_sample, abs(f.p50_full - s.p50_sample) AS abs_err
FROM fq f JOIN sq s ON f.event_type = s.event_type
ORDER BY f.event_type
"""


def q_rounding_semantics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse rounding-family parity — ``round`` (half away from
    zero), ``roundBankers`` (half to even), ``floor``/``ceil``/
    ``trunc`` — applied to value×10 at one decimal, aggregated per
    event type so every row's verdict shifts a sum. The half-even and
    half-away branches are spelled with the SAME explicit integer
    formulas on both engines (engine-native round() differs silently:
    Spark HALF_UP, DuckDB half-even on ties — the exact class of bug
    this report pins). Counts of actual .5 ties where the two
    semantics diverge included. Signs alternate by event_id parity so
    the NEGATIVE branches are exercised by the oracle at every SF:
    the remainder is the floor-consistent pmod (always in [0,1e5)),
    and the half-away tie direction is sign-aware — for u<0 the tie
    rounds DOWN to q (away from zero), for u>=0 up to q+1. A
    dividend-signed % here silently degrades both rounding modes to
    floor on negative inputs."""
    ev = _t(spark, sf_dir, "events")
    # exact tenths: value is micro-grid in fixtures, scaled to integer
    # micros-of-tenths to detect exact .5 ties; parity sign makes
    # roughly half the inputs negative
    sign = F.when(F.col("event_id") % 2 == 0, F.lit(-1)).otherwise(
        F.lit(1)
    ).cast("bigint")
    u = (F.round(F.col("value") * 1_000_000).cast("bigint") * sign)
    # floor quotient + floor-consistent remainder: u = q*1e5 + r with
    # r in [0, 1e5) for ANY sign of u (pmod, not dividend-signed %)
    q_ = F.floor(u / 100000).cast("bigint")
    r_ = F.pmod(u, F.lit(100000).cast("bigint"))
    half_away = (
        F.when(r_ > 50000, q_ + 1)
        .when(r_ < 50000, q_)
        # exact tie: away-from-zero is q+1 for u>=0, q for u<0
        .otherwise(F.when(u < 0, q_).otherwise(q_ + 1))
    )
    half_even = (
        F.when(r_ > 50000, q_ + 1)
        .when(r_ < 50000, q_)
        .otherwise(F.when(q_ % 2 == 0, q_).otherwise(q_ + 1))
    )
    b = ev.select(
        "event_type",
        half_away.alias("ha"),
        half_even.alias("he"),
        (r_ == 50000).cast("int").alias("tie"),
        q_.alias("fl"),
    )
    return (
        b.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("ha").cast("bigint").alias("sum_round_half_away"),
            F.sum("he").cast("bigint").alias("sum_round_bankers"),
            F.sum("fl").cast("bigint").alias("sum_floor"),
            F.sum("tie").cast("bigint").alias("n_exact_ties"),
            F.sum(F.when(F.col("ha") != F.col("he"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_divergent"),
        )
        .orderBy("event_type")
    )


_ROUNDING_SQL = """
WITH b AS (
  SELECT event_type,
    CAST(ROUND(value * 1000000) AS BIGINT)
      * (CASE WHEN event_id % 2 = 0 THEN -1 ELSE 1 END) AS u
  FROM events),
c AS (
  SELECT event_type, u,
    CAST(FLOOR(u / 100000.0) AS BIGINT) AS q,
    ((u % 100000) + 100000) % 100000 AS r
  FROM b),
d AS (
  SELECT event_type, q AS fl,
    CASE WHEN r > 50000 THEN q + 1 WHEN r < 50000 THEN q
         WHEN u < 0 THEN q ELSE q + 1 END AS ha,
    CASE WHEN r > 50000 THEN q + 1 WHEN r < 50000 THEN q
         WHEN q % 2 = 0 THEN q ELSE q + 1 END AS he,
    CASE WHEN r = 50000 THEN 1 ELSE 0 END AS tie
  FROM c)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(ha) AS BIGINT) AS sum_round_half_away,
  CAST(SUM(he) AS BIGINT) AS sum_round_bankers,
  CAST(SUM(fl) AS BIGINT) AS sum_floor,
  CAST(SUM(tie) AS BIGINT) AS n_exact_ties,
  CAST(SUM(CASE WHEN ha <> he THEN 1 ELSE 0 END) AS BIGINT)
    AS n_divergent
FROM d GROUP BY event_type ORDER BY event_type
"""


def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window exact distinct (ClickHouse ``uniqExact`` over a
    7-day trailing window): distinct-count is NOT decomposable, so the
    scalable shape is contribute-to-window — each (user, day) pair
    explodes into the ≤7 window-end days it affects (bounded fan-out),
    then one distinct + one count per window key. No per-window rescan,
    no set-union state; shuffle volume is 7× the (user, day) grain, not
    the event grain. Trailing windows clipped to the observed day span;
    DAU reported alongside for the ratio."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        F.col("user_id").alias("u"), F.col("ts").cast("date").alias("d")
    ).distinct()
    # d survives the explode, so the DAU column rides the SAME pass as
    # the trailing window (win_end == d marks each pair's own day) —
    # one explode, one aggregation, no separate daily branch or join
    ex = ud.select(
        "u",
        "d",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("win_end"),
    )
    bounds = ev.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    return (
        ex.crossJoin(F.broadcast(bounds))
        .where(F.col("win_end") <= F.col("mx"))
        .groupBy("win_end")
        .agg(
            F.countDistinct(F.when(F.col("win_end") == F.col("d"), F.col("u")))
            .cast("bigint")
            .alias("users_1d"),
            F.countDistinct("u").cast("bigint").alias("users_7d"),
        )
        .orderBy("win_end")
    )


_SLIDING_DISTINCT_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
ex AS (
  SELECT u, d, CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS DATE)
      AS win_end
  FROM ud),
b AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events)
SELECT win_end,
  CAST(COUNT(DISTINCT CASE WHEN win_end = d THEN u END) AS BIGINT)
    AS users_1d,
  CAST(COUNT(DISTINCT u) AS BIGINT) AS users_7d
FROM ex, b WHERE win_end <= b.mx
GROUP BY win_end ORDER BY win_end
"""


def q_sequence_match_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch NEGATION semantics ('view, then purchase, with NO
    error in between' — the pattern class plain funnels cannot
    express): per user, a match exists iff some purchase has a view
    before it with every intervening event non-error. Row-local scan:
    for each purchase index j, the LAST view index before j and the
    LAST error index before j — clean iff last_view > last_error. Per
    event type stream in one sorted per-user array (single groupBy);
    report counts matched users with and without the negation, plus
    users rejected ONLY by the error guard."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.struct(
            F.unix_timestamp("ts").alias("s"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("t"),
        ).alias("kv"),
    )
    per = base.groupBy("user_id").agg(
        F.sort_array(F.collect_list("kv")).alias("kv")
    )
    t = F.transform(F.col("kv"), lambda x: x["t"])
    d = per.select("user_id", t.alias("t"), F.size("kv").alias("n"))
    idx = F.sequence(F.lit(1), F.col("n"))
    last_before = lambda j, what: F.array_max(  # noqa: E731
        F.filter(
            idx,
            lambda i: (i < j) & (F.element_at(F.col("t"), i) == what),
        )
    )
    m_plain = F.exists(
        idx,
        lambda j: (F.element_at(F.col("t"), j) == "purchase")
        & last_before(j, "view").isNotNull(),
    )
    m_neg = F.exists(
        idx,
        lambda j: (F.element_at(F.col("t"), j) == "purchase")
        & last_before(j, "view").isNotNull()
        & (
            F.coalesce(last_before(j, "error"), F.lit(0))
            < last_before(j, "view")
        ),
    )
    flags = d.select(
        m_plain.cast("int").alias("p"), m_neg.cast("int").alias("q")
    )
    return flags.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("p").cast("bigint").alias("n_view_then_purchase"),
        F.sum("q").cast("bigint").alias("n_without_error_between"),
        F.sum(F.when((F.col("p") == 1) & (F.col("q") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rejected_by_error_guard"),
    )


_SEQ_NEGATION_SQL = """
WITH per AS (
  SELECT user_id,
    list(event_type ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id)
      AS t,
    COUNT(*) AS n
  FROM events GROUP BY 1),
f AS (
  SELECT user_id,
    len(list_filter(generate_series(1, n), j -> t[j] = 'purchase'
      AND len(list_filter(generate_series(1, n),
          i -> i < j AND t[i] = 'view')) > 0)) > 0 AS p,
    len(list_filter(generate_series(1, n), j -> t[j] = 'purchase'
      AND len(list_filter(generate_series(1, n),
          i -> i < j AND t[i] = 'view')) > 0
      AND COALESCE(list_max(list_filter(generate_series(1, n),
          i -> i < j AND t[i] = 'error')), 0)
        < list_max(list_filter(generate_series(1, n),
          i -> i < j AND t[i] = 'view')))) > 0 AS q
  FROM per)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
    AS n_view_then_purchase,
  CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT)
    AS n_without_error_between,
  CAST(SUM(CASE WHEN p AND NOT q THEN 1 ELSE 0 END) AS BIGINT)
    AS n_rejected_by_error_guard
FROM f
"""


def q_window_funnel_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(86400, 'strict_dedup')`` parity: the
    view → click → purchase chain where a REPEAT of an already-matched
    step between levels aborts the chain (the mode that distinguishes
    genuine progressions from re-fired anchors). Stateless
    formulation — no sequential fold: per anchor view, the first
    in-window click must have no intervening view, and the first
    purchase after it no intervening view/click; per-user level is the
    max over anchors. Row-local array scans over the per-user sorted
    stream (one groupBy — the sessionization state shape); levels
    partition the user base."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
            F.col("event_type").alias("t"),
        ).alias("kv"),
    )
    per = base.groupBy("user_id").agg(
        F.sort_array(F.collect_list("kv")).alias("kv")
    )
    t = F.transform(F.col("kv"), lambda x: x["t"])
    us = F.transform(F.col("kv"), lambda x: x["us"])
    d = per.select("user_id", t.alias("t"), us.alias("us"),
                   F.size("kv").alias("n"))
    day_us = 24 * 3600 * 1_000_000
    idx = F.sequence(F.lit(1), F.col("n"))
    tt = lambda i: F.element_at(F.col("t"), i)  # noqa: E731
    uu = lambda i: F.element_at(F.col("us"), i)  # noqa: E731

    def between(a, b, types):
        return F.exists(
            idx,
            lambda k: (k > a)
            & (k < b)
            & F.array_contains(F.array(*[F.lit(x) for x in types]), tt(k)),
        )

    def first_after(a, typ, anchor):
        return F.array_min(
            F.filter(
                idx,
                lambda j: (j > a)
                & (tt(j) == typ)
                & (uu(j) <= uu(anchor) + day_us),
            )
        )

    def anchor_level(i):
        c1 = first_after(i, "click", i)
        p1 = first_after(c1, "purchase", i)
        return (
            F.when(c1.isNull(), 1)
            .when(between(i, c1, ["view"]), 1)
            .when(p1.isNull(), 2)
            .when(between(c1, p1, ["view", "click"]), 2)
            .otherwise(3)
        )

    lvl = F.coalesce(
        F.array_max(
            F.transform(
                F.filter(idx, lambda i: tt(i) == "view"),
                anchor_level,
            )
        ),
        F.lit(0),
    )
    return (
        d.select(lvl.alias("funnel_level"))
        .groupBy("funnel_level")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("funnel_level")
    )


_FUNNEL_DEDUP_SQL = """
WITH per AS (
  SELECT user_id,
    list(event_type ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id)
      AS t,
    list(CAST(epoch_us(ts) AS BIGINT)
         ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id) AS s,
    COUNT(*) AS n
  FROM events GROUP BY 1),
lv AS (
  SELECT user_id,
    COALESCE(list_max(list_transform(
      list_filter(generate_series(1, n), i -> t[i] = 'view'),
      i -> CASE
        WHEN list_min(list_filter(generate_series(1, n),
            j -> j > i AND t[j] = 'click'
              AND s[j] <= s[i] + 86400000000)) IS NULL THEN 1
        WHEN len(list_filter(generate_series(1, n), k -> k > i
            AND k < list_min(list_filter(generate_series(1, n),
                j -> j > i AND t[j] = 'click'
                  AND s[j] <= s[i] + 86400000000))
            AND t[k] = 'view')) > 0 THEN 1
        WHEN list_min(list_filter(generate_series(1, n),
            j -> j > list_min(list_filter(generate_series(1, n),
                jj -> jj > i AND t[jj] = 'click'
                  AND s[jj] <= s[i] + 86400000000))
              AND t[j] = 'purchase'
              AND s[j] <= s[i] + 86400000000)) IS NULL THEN 2
        WHEN len(list_filter(generate_series(1, n), k ->
            k > list_min(list_filter(generate_series(1, n),
                jj -> jj > i AND t[jj] = 'click'
                  AND s[jj] <= s[i] + 86400000000))
            AND k < list_min(list_filter(generate_series(1, n),
                j -> j > list_min(list_filter(generate_series(1, n),
                    jj -> jj > i AND t[jj] = 'click'
                      AND s[jj] <= s[i] + 86400000000))
                  AND t[j] = 'purchase'
                  AND s[j] <= s[i] + 86400000000))
            AND (t[k] = 'view' OR t[k] = 'click'))) > 0 THEN 2
        ELSE 3 END)), 0) AS funnel_level
  FROM per)
SELECT funnel_level, CAST(COUNT(*) AS BIGINT) AS n_users
FROM lv GROUP BY funnel_level ORDER BY funnel_level
"""


def q_dict_hierarchy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse hierarchical-dictionary parity — ``dictGetHierarchy``
    (the id chain up to the root) and ``dictIsIn`` (ancestor test) over
    the nation → region hierarchy: per nation, the name chain, the
    hierarchy id path as CSV, the region ancestor flag for EUROPE, and
    the depth. Flat dimension joins (broadcast); at scale the
    hierarchy dictionary is exactly the broadcast side."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    j = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return j.select(
        F.col("n_nationkey").cast("bigint").alias("nationkey"),
        F.concat_ws(">", F.col("n_name"), F.col("r_name")).alias(
            "name_chain"
        ),
        F.concat_ws(
            ",",
            F.col("n_nationkey").cast("string"),
            (F.col("r_regionkey") + 100).cast("string"),
        ).alias("id_path"),
        (F.col("r_name") == "EUROPE").cast("int").alias("is_in_europe"),
        F.lit(2).cast("bigint").alias("depth"),
    ).orderBy("nationkey")


_DICT_HIERARCHY_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
  n_name || '>' || r_name AS name_chain,
  CAST(n_nationkey AS VARCHAR) || ',' ||
    CAST(r_regionkey + 100 AS VARCHAR) AS id_path,
  CAST(r_name = 'EUROPE' AS INT) AS is_in_europe,
  CAST(2 AS BIGINT) AS depth
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY nationkey
"""


def q_rolling_beta_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS slope (the trading-desk rolling beta /
    momentum signal): daily revenue regressed on the day index over a
    ROWS 29-PRECEDING frame. Sufficient statistics (n, Σx, Σy, Σxx,
    Σxy) accumulate as exact integers inside the window frame and the
    slope assembles in double with the identical expression on both
    engines — a windowed version of gd_linreg's one-pass rule. Only
    full frames emit (rn ≥ 30). Cents-per-day, rounded 1e-6."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)")
        ).alias("cents")
    )
    b = daily.select(
        "day",
        F.datediff(
            "day", F.to_date(F.lit("1992-01-01"))
        ).cast("decimal(10,0)").alias("x"),
        F.col("cents").cast("decimal(19,0)").alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-29, 0)
    wo = Window.orderBy("day")
    f = b.select(
        "day",
        F.count("*").over(w).cast("double").alias("n"),
        F.sum("x").over(w).cast("double").alias("sx"),
        F.sum("y").over(w).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("double").alias("sxy"),
        F.row_number().over(wo).alias("rn"),
    ).where(F.col("rn") >= 30)
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return f.select(
        "day",
        F.round(beta, 6).alias("beta_cents_per_day"),
    ).orderBy("day")


_ROLLING_BETA_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0))) AS cents
  FROM orders GROUP BY 1),
b AS (
  SELECT day,
    CAST(date_diff('day', DATE '1992-01-01', day) AS DECIMAL(10,0)) AS x,
    CAST(cents AS DECIMAL(19,0)) AS y
  FROM daily),
f AS (
  SELECT day,
    CAST(COUNT(*) OVER w AS DOUBLE) AS n,
    CAST(SUM(x) OVER w AS DOUBLE) AS sx,
    CAST(SUM(y) OVER w AS DOUBLE) AS sy,
    CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
    CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
    ROW_NUMBER() OVER (ORDER BY day) AS rn
  FROM b
  WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
SELECT day,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    AS beta_cents_per_day
FROM f WHERE rn >= 30 ORDER BY day
"""


def q_json_roundtrip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON output-format parity (ClickHouse JSONEachRow ↔ Spark
    to_json ↔ DuckDB to_json emit the identical compact encoding for
    int/string structs — verified here, not assumed): each order row
    serializes to a JSON object, re-parses, and the report counts exact
    string-identity round trips plus field-level re-extraction matches.
    Row-local serialization inside codegen; one aggregation. The
    sanity layer under every JSONEachRow export/ingest pipeline."""
    o = _t(spark, sf_dir, "orders")
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("p"),
            F.year("o_orderdate").alias("y"),
        )
    )
    b = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.year("o_orderdate").alias("y"),
        doc.alias("j"),
    )
    back_k = F.get_json_object("j", "$.k").cast("bigint")
    back_p = F.get_json_object("j", "$.p")
    back_y = F.get_json_object("j", "$.y").cast("bigint")
    rebuilt = F.concat(
        F.lit('{"k":'), F.col("o_orderkey").cast("string"),
        F.lit(',"p":"'), F.col("o_orderpriority"),
        F.lit('","y":'), F.col("y").cast("string"), F.lit("}"),
    )
    return b.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("j") == rebuilt).cast("int"))
        .cast("bigint")
        .alias("n_exact_encoding"),
        F.sum((back_k == F.col("o_orderkey")).cast("int"))
        .cast("bigint")
        .alias("n_key_roundtrip"),
        F.sum((back_p == F.col("o_orderpriority")).cast("int"))
        .cast("bigint")
        .alias("n_priority_roundtrip"),
        F.sum((back_y == F.col("y")).cast("int"))
        .cast("bigint")
        .alias("n_year_roundtrip"),
    )


_JSON_ROUNDTRIP_SQL = """
WITH b AS (
  SELECT o_orderkey, o_orderpriority, year(o_orderdate) AS y,
    to_json(struct_pack(k := o_orderkey, p := o_orderpriority,
                        y := year(o_orderdate)))::VARCHAR AS j
  FROM orders)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CASE WHEN j = '{"k":' || CAST(o_orderkey AS VARCHAR)
    || ',"p":"' || o_orderpriority || '","y":' || CAST(y AS VARCHAR)
    || '}' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_encoding,
  CAST(SUM(CASE WHEN CAST(json_extract(j, '$.k') AS BIGINT)
    = o_orderkey THEN 1 ELSE 0 END) AS BIGINT) AS n_key_roundtrip,
  CAST(SUM(CASE WHEN json_extract_string(j, '$.p')
    = o_orderpriority THEN 1 ELSE 0 END) AS BIGINT)
    AS n_priority_roundtrip,
  CAST(SUM(CASE WHEN CAST(json_extract(j, '$.y') AS BIGINT) = y
    THEN 1 ELSE 0 END) AS BIGINT) AS n_year_roundtrip
FROM b
"""


def q_binary_encoding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse binary-encoding family parity — ``base64Encode`` /
    ``base64Decode`` / ``hex`` / ``unhex`` — over each document's md5
    digest bytes: the hex and base64 encodings, a decode-identity
    flag, and the encoded lengths (4·⌈16/3⌉ = 24 with padding; 32 hex
    chars). Row-local codec expressions; per-doc rows keep the hash
    gate byte-honest."""
    docs = _t(spark, sf_dir, "documents")
    dig = F.unhex(F.md5("text"))
    b = docs.select("doc_id", dig.alias("d"))
    return b.select(
        "doc_id",
        F.hex("d").alias("hex"),
        F.base64("d").alias("b64"),
        (F.unbase64(F.base64("d")) == F.col("d")).cast("int").alias(
            "b64_roundtrip_ok"
        ),
        F.length(F.hex("d")).cast("bigint").alias("hex_len"),
        F.length(F.base64("d")).cast("bigint").alias("b64_len"),
    ).orderBy("doc_id")


_BINARY_ENCODING_SQL = """
WITH b AS (
  SELECT doc_id, from_hex(md5(text)) AS d FROM documents)
SELECT doc_id,
  hex(d) AS hex,
  to_base64(d) AS b64,
  CAST(from_base64(to_base64(d)) = d AS INT) AS b64_roundtrip_ok,
  CAST(length(hex(d)) AS BIGINT) AS hex_len,
  CAST(length(to_base64(d)) AS BIGINT) AS b64_len
FROM b ORDER BY doc_id
"""


# the audited Count-Min sketch: 4 hashed rows of 16 cells
_CMS_DEPTH, _CMS_WIDTH = 4, 16


def q_countmin_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch accuracy audit: a deterministic 4×16 CMS (row
    hashes from md5, no RNG) over event types — per key the exact
    count, the CMS estimate (min over rows of the hashed cell), and the
    overestimate in ppm. CMS cells build in ONE map-side-combinable
    aggregation of (row, col) partials — the fixed-size mergeable-state
    shape that makes CMS the 100 TB heavy-hitter counter — and the
    estimate probe joins the 64-cell table broadcast. Overestimates
    are ≥0 by construction (the test pins the one-sided error
    guarantee)."""
    ev = _t(spark, sf_dir, "events")
    depth, width = _CMS_DEPTH, _CMS_WIDTH

    def col_for(r, key):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cms{r}_"), key)), 1, 8),
                16,
                10,
            ).cast("bigint")
            % width
        )

    rows = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        col_for(r, F.col("event_type")).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    cells = rows.groupBy(
        F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
    ).agg(F.count("*").alias("cell"))
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact"))
    probes = exact.select(
        "event_type",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        col_for(r, F.col("event_type")).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("event_type", "exact", F.col("rc.r").alias("r"),
             F.col("rc.c").alias("c"))
    est = (
        probes.join(F.broadcast(cells), ["r", "c"])
        .groupBy("event_type", "exact")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    return est.select(
        "event_type",
        F.col("exact").cast("bigint").alias("exact"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("exact"))
        .cast("bigint")
        .alias("overestimate"),
        F.expr("(cms_estimate - exact) * 1000000 div exact")
        .cast("bigint")
        .alias("overest_ppm"),
    ).orderBy("event_type")


def _countmin_sql() -> str:
    depth, width = _CMS_DEPTH, _CMS_WIDTH

    def col_for(r, key):
        return (
            f"('0x' || substr(md5('cms{r}_' || {key}), 1, 8))::BIGINT"
            f" % {width}"
        )

    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS r, {col_for(r, 'event_type')} AS c FROM events"
        for r in range(depth)
    )
    probe_unions = "\nUNION ALL\n".join(
        f"SELECT event_type, exact, {r} AS r,"
        f" {col_for(r, 'event_type')} AS c FROM exact_t"
        for r in range(depth)
    )
    return f"""
WITH rows_t AS ({unions}),
cells AS (SELECT r, c, COUNT(*) AS cell FROM rows_t GROUP BY 1, 2),
exact_t AS (SELECT event_type, COUNT(*) AS exact FROM events GROUP BY 1),
probes AS ({probe_unions}),
est AS (
  SELECT p.event_type, p.exact, MIN(cells.cell) AS cms_estimate
  FROM probes p JOIN cells ON p.r = cells.r AND p.c = cells.c
  GROUP BY 1, 2)
SELECT event_type, CAST(exact AS BIGINT) AS exact,
  CAST(cms_estimate AS BIGINT) AS cms_estimate,
  CAST(cms_estimate - exact AS BIGINT) AS overestimate,
  CAST((cms_estimate - exact) * 1000000 // exact AS BIGINT)
    AS overest_ppm
FROM est ORDER BY event_type
"""


_COUNTMIN_SQL = _countmin_sql()


# the audited Bloom filter: 4 hash functions over 256 bits
_BLOOM_K, _BLOOM_M = 4, 256


def q_bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive audit from first principles: a
    deterministic 256-bit / 4-hash filter (md5-derived bit positions,
    no RNG) built over 1996's active customers, probed with TRUE
    NEGATIVES (customers active in 1997 but not 1996). Reports bits
    set, observed false positives, FPR ppm, and the textbook
    (1−e^(−kn/m))^k expectation — the calibration every
    bloom-semi-join (bloom_semi_join_audit) relies on. Build and probe
    are explode→distinct→equi-join shapes; the filter itself is the
    256-row bit table (broadcast)."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    k, m = _BLOOM_K, _BLOOM_M
    a = o.where(yr == 1996).select(F.col("o_custkey").alias("c")).distinct()
    b = o.where(yr == 1997).select(F.col("o_custkey").alias("c")).distinct()
    probes = b.join(a, "c", "left_anti")

    def bits(df):
        return df.select(
            "c",
            F.explode(
                F.array(
                    *[
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(f"bf{r}_"),
                                            F.col("c").cast("string"),
                                        )
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("bigint")
                            % m
                        )
                        for r in range(k)
                    ]
                )
            ).alias("bit"),
        )

    filt = bits(a).select("bit").distinct()
    hit = (
        bits(probes)
        .join(F.broadcast(filt.withColumn("present", F.lit(1))), "bit", "left")
        .groupBy("c")
        .agg(F.sum(F.coalesce("present", F.lit(0))).alias("n_hit"))
    )
    n_ins = a.count()
    n_bits = filt.count()
    theory = (
        1.0 - F.exp(F.lit(-float(k) * n_ins / m))
    ) ** k
    return hit.agg(
        F.lit(n_ins).cast("bigint").alias("n_inserted"),
        F.lit(n_bits).cast("bigint").alias("n_bits_set"),
        F.count("*").cast("bigint").alias("n_true_negative_probes"),
        F.sum((F.col("n_hit") == k).cast("int"))
        .cast("bigint")
        .alias("n_false_positives"),
        F.floor(
            F.sum((F.col("n_hit") == k).cast("int"))
            * 1000000
            / F.count("*")
        )
        .cast("bigint")
        .alias("fpr_ppm"),
        F.floor(theory * 1000000).cast("bigint").alias("theory_fpr_ppm"),
    )


def _bloom_sql() -> str:
    k, m = _BLOOM_K, _BLOOM_M

    def bit(r):
        return (
            f"('0x' || substr(md5('bf{r}_' || CAST(c AS VARCHAR)), 1, 8))"
            f"::BIGINT % {m}"
        )

    a_bits = "\nUNION ALL\n".join(
        f"SELECT c, {bit(r)} AS bit FROM a" for r in range(k)
    )
    p_bits = "\nUNION ALL\n".join(
        f"SELECT c, {bit(r)} AS bit FROM probes" for r in range(k)
    )
    return f"""
WITH a AS (SELECT DISTINCT o_custkey AS c FROM orders
           WHERE year(o_orderdate) = 1996),
b AS (SELECT DISTINCT o_custkey AS c FROM orders
      WHERE year(o_orderdate) = 1997),
probes AS (SELECT c FROM b WHERE c NOT IN (SELECT c FROM a)),
filt AS (SELECT DISTINCT bit FROM ({a_bits})),
pb AS ({p_bits}),
hit AS (
  SELECT pb.c, SUM(CASE WHEN filt.bit IS NOT NULL THEN 1 ELSE 0 END)
    AS n_hit
  FROM pb LEFT JOIN filt ON pb.bit = filt.bit GROUP BY pb.c)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_inserted,
  CAST((SELECT COUNT(*) FROM filt) AS BIGINT) AS n_bits_set,
  CAST(COUNT(*) AS BIGINT) AS n_true_negative_probes,
  CAST(SUM(CASE WHEN n_hit = {k} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_positives,
  CAST(FLOOR(SUM(CASE WHEN n_hit = {k} THEN 1 ELSE 0 END) * 1000000.0
       / COUNT(*)) AS BIGINT) AS fpr_ppm,
  CAST(FLOOR(power(1.0 - exp(-{float(k)} * (SELECT COUNT(*) FROM a)
       / {m}), {k}) * 1000000) AS BIGINT) AS theory_fpr_ppm
FROM hit
"""


_BLOOM_FPR_SQL = _bloom_sql()


def q_hll_manual_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from first principles, bit-deterministic: 64
    registers fed by a 60-bit md5 hash (bucket = low 6 bits, rho =
    leading-zero rank of the remaining 54 bits), per event type. The
    register sum Σ2^(−Mj) is computed as the EXACT integer Σ2^(55−Mj)
    (a ≤61-bit sum — no order-dependent float accumulation), so the
    raw estimate is bit-identical on any engine/partition order. Small-
    range correction (m·ln(m/V)) applied exactly as the paper says.
    Reports exact uniques, the HLL estimate, and signed error in ppm —
    the audit that justifies approx_count_distinct's error envelope."""
    ev = _t(spark, sf_dir, "events")
    m = 64
    x = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    bucket = x % m
    w = F.floor(x / m).cast("bigint")
    bitlen = F.when(w > 0, F.length(F.conv(w, 10, 2))).otherwise(F.lit(0))
    rho = (F.lit(55) - bitlen).cast("int")  # 54-bit field: lz + 1
    regs = (
        ev.select("event_type", bucket.alias("b"), rho.alias("rho"))
        .groupBy("event_type", "b")
        .agg(F.max("rho").alias("M"))
    )
    spine = (
        ev.select("event_type").distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("b"),
        )
    )
    full = spine.join(regs, ["event_type", "b"], "left").select(
        "event_type", F.coalesce("M", F.lit(0)).alias("M")
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = full.groupBy("event_type").agg(
        F.sum(F.pow(F.lit(2.0), F.lit(55) - F.col("M")).cast("bigint"))
        .alias("z_scaled"),
        F.sum((F.col("M") == 0).cast("int")).alias("v_zero"),
    )
    raw = (
        F.lit(alpha * m * m)
        * F.lit(float(2**55))
        / F.col("z_scaled").cast("double")
    )
    est = F.when(
        (raw <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(raw)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact")
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact").cast("bigint").alias("exact_uniques"),
            F.round(est, 4).alias("hll_estimate"),
            F.floor((est - F.col("exact")) * 1000000 / F.col("exact"))
            .cast("bigint")
            .alias("signed_err_ppm"),
        )
        .orderBy("event_type")
    )


_HLL_MANUAL_SQL = """
WITH h AS (
  SELECT event_type,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS x,
    user_id
  FROM events),
r AS (
  SELECT event_type, x % 64 AS b,
    CAST(55 - (CASE WHEN CAST(FLOOR(x / 64) AS BIGINT) > 0
      THEN length(bin(CAST(FLOOR(x / 64) AS BIGINT))) ELSE 0 END)
      AS INT) AS rho
  FROM h),
regs AS (SELECT event_type, b, MAX(rho) AS M FROM r GROUP BY 1, 2),
spine AS (
  SELECT event_type, CAST(unnest(generate_series(0, 63)) AS BIGINT) AS b
  FROM (SELECT DISTINCT event_type FROM events)),
full_regs AS (
  SELECT s.event_type, COALESCE(regs.M, 0) AS M
  FROM spine s LEFT JOIN regs
    ON s.event_type = regs.event_type AND s.b = regs.b),
agg AS (
  SELECT event_type,
    SUM(CAST(power(2.0, 55 - M) AS BIGINT)) AS z_scaled,
    SUM(CASE WHEN M = 0 THEN 1 ELSE 0 END) AS v_zero
  FROM full_regs GROUP BY 1),
exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact FROM events
  GROUP BY 1),
est AS (
  SELECT a.event_type, e.exact,
    CASE WHEN (0.7213 / (1.0 + 1.079 / 64) * 64 * 64)
           * 36028797018963968.0 / CAST(a.z_scaled AS DOUBLE)
           <= 2.5 * 64 AND a.v_zero > 0
      THEN 64.0 * ln(64.0 / a.v_zero)
      ELSE (0.7213 / (1.0 + 1.079 / 64) * 64 * 64)
           * 36028797018963968.0 / CAST(a.z_scaled AS DOUBLE) END AS est
  FROM agg a JOIN exact e ON a.event_type = e.event_type)
SELECT event_type, CAST(exact AS BIGINT) AS exact_uniques,
  ROUND(est, 4) AS hll_estimate,
  CAST(FLOOR((est - exact) * 1000000 / exact) AS BIGINT)
    AS signed_err_ppm
FROM est ORDER BY event_type
"""


def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): every doc
    scores under an add-one-smoothed corpus bigram LM (one count pass;
    the LM joins back on the token keys — broadcastable when small,
    shuffled at crawl scale), per-token negative log-likelihood
    becomes the doc's pseudo-perplexity, and docs split into
    head/middle/tail TERCILES — the quality tiers CCNet keeps/reweights
    /drops. Tercile cuts use exact rank arithmetic (ntile with total-
    order tie-break on doc_id). Report per bucket: docs, token mass,
    and the mean nll (micro-rounded). The filter that decides what a
    100 TB crawl keeps — one corpus pass for the LM, one for
    scoring."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    d = docs.select("doc_id", toks.alias("t"), F.size(toks).alias("n"))
    big = d.select(
        "doc_id",
        "n",
        F.explode(
            F.when(
                F.col("n") >= 2,
                F.transform(
                    F.sequence(F.lit(2), F.col("n")),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i - 1).alias("w1"),
                        F.element_at(F.col("t"), i).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<w1:string,w2:string>>"
            ))
        ).alias("bg"),
    ).select("doc_id", "n", F.col("bg.w1").alias("w1"),
             F.col("bg.w2").alias("w2"))
    # r11 optimization (guide §2.2/§5: shuffle fewer bytes, never scan
    # the corpus twice for derivable aggregates): the exploded-bigram
    # frame used to be derived FOUR times (bg_counts, un_counts, the
    # vocab count action, and the scored join spine). Everything the LM
    # needs is derivable from bg_counts alone — cu = SUM(cb) per w1
    # (exact integers), vocab = |distinct(w1 union w2)| over the distinct
    # bigram set (identical sets by construction) — so ONE corpus pass
    # builds the LM (checkpointed at bigram grain, sublinear in the
    # crawl) and the only other corpus pass is the scoring join. The
    # docstring's "one pass for the LM, one for scoring" is now the
    # measured plan, not just the design.
    #
    # r12 — measured and REVERTED: folding the corpus once to per-doc
    # bigram COUNTS (checkpointed, bg_counts derived from the fold,
    # scoring weighted by the exact-integer multiplicity) removes the
    # second tokenize+explode but materializes a FACT-grain
    # intermediate — bigrams are mostly unique within a doc, so the
    # fold barely reduces and the checkpoint write+read costs more
    # than the recompute it saves (isolated sf0.1 min 2.80 -> 3.20,
    # 1.15x). Same anti-case as the dispatch cost model: only
    # materialize what aggregation actually shrinks.
    bg_counts = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=True)
    )
    un_counts = bg_counts.groupBy("w1").agg(F.sum("cb").alias("cu"))
    vocab = bg_counts.select(F.col("w2").alias("w")).union(
        bg_counts.select("w1")
    ).distinct().count()
    # per-bigram nll computed at LM grain (bigram rows, NOT corpus
    # rows), then ONE equi-join onto the exploded corpus — the LM
    # tables GROW with the crawl, so they join as plain equi-joins on
    # the token keys (AQE broadcasts them when small, shuffles at
    # 100 TB); forcing a broadcast here would ship a corpus-
    # proportional table to every executor
    lm = bg_counts.join(un_counts, "w1").select(
        "w1",
        "w2",
        (
            -F.log(
                (F.col("cb") + 1).cast("double")
                / (F.col("cu") + vocab).cast("double")
            )
        ).alias("nll"),
    )
    scored = big.join(lm, ["w1", "w2"]).select("doc_id", "n", "nll")
    per_doc = scored.groupBy("doc_id", "n").agg(
        (
            F.sum(F.round(F.col("nll") * 1e9).cast("decimal(38,0)"))
            .cast("double")
            / 1e9
            / F.greatest(F.col("n") - 1, F.lit(1))
        ).alias("nll_per_tok")
    )
    # per_doc is one row per document — corpus-proportional, so the
    # tercile split is the distributed NTILE (ranged shuffle + broadcast
    # offsets), never a single-partition window
    bucketed = RK.global_ntile(
        per_doc, ["nll_per_tok", "doc_id"], 3, col_name="tercile"
    ).withColumn(
        "bucket",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            F.col("tercile"),
        ),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(
                    F.round(F.col("nll_per_tok") * 1e6).cast("decimal(38,0)")
                ).cast("double")
                / F.count("*")
                / 1e6,
                6,
            ).alias("mean_nll_per_tok"),
        )
        .orderBy("bucket")
    )


def _ccnet_ppl_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, {_TOKS_SQL} AS t, len({_TOKS_SQL}) AS n FROM documents),
big AS (
  SELECT doc_id, n, t[i - 1] AS w1, t[i] AS w2
  FROM d, unnest(CASE WHEN n >= 2 THEN generate_series(2, n)
                 ELSE [] END) AS u(i)),
bg AS (SELECT w1, w2, COUNT(*) AS cb FROM big GROUP BY 1, 2),
un AS (SELECT w1, COUNT(*) AS cu FROM big GROUP BY 1),
v AS (SELECT COUNT(*) AS vocab FROM (
  SELECT DISTINCT w FROM (SELECT w2 AS w FROM big
                          UNION ALL SELECT w1 FROM big))),
scored AS (
  SELECT b.doc_id, b.n,
    -ln(CAST(bg.cb + 1 AS DOUBLE) / CAST(un.cu + v.vocab AS DOUBLE))
      AS nll
  FROM big b JOIN bg ON b.w1 = bg.w1 AND b.w2 = bg.w2
  JOIN un ON b.w1 = un.w1 CROSS JOIN v),
per_doc AS (
  SELECT doc_id, n,
    CAST(SUM(CAST(ROUND(nll * 1e9) AS DECIMAL(38,0))) AS DOUBLE) / 1e9
      / greatest(n - 1, 1) AS nll_per_tok
  FROM scored GROUP BY 1, 2),
bucketed AS (
  SELECT *, ntile(3) OVER (ORDER BY nll_per_tok, doc_id) AS tercile
  FROM per_doc)
SELECT CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       ELSE 'tail' END AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(CAST(ROUND(nll_per_tok * 1e6) AS DECIMAL(38,0)))
        AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_nll_per_tok
FROM bucketed GROUP BY tercile ORDER BY bucket
"""


_CCNET_PPL_SQL = _ccnet_ppl_sql()


def q_conformal_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval calibration on the daily revenue
    series: the first 70% of days (by date) calibrate — residuals of
    the seasonal-naive (lag-7) forecast yield the discrete ceil(0.9·
    (n+1))-rank absolute-residual quantile — and the held-out 30%
    measure empirical coverage of ±q̂ bands. Everything is exact
    integer cents and rank arithmetic (no model, no floats until the
    final ppm), so the coverage guarantee audit is bit-reproducible —
    the distribution-free uncertainty wrapper any forecast sink
    (R10's bounds columns) can cite."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)")
        ).cast("bigint").alias("cents")
    )
    w = Window.orderBy("day")
    b = daily.select(
        "day",
        "cents",
        F.lag("cents", 7).over(w).alias("pred"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_days"),
    ).where(F.col("pred").isNotNull())
    split = F.floor(F.col("n_days") * 7 / 10).cast("int")
    b = b.withColumn("is_cal", (F.col("rn") <= split).cast("int")).withColumn(
        "abs_res", F.abs(F.col("cents") - F.col("pred"))
    )
    cal = b.where("is_cal = 1")
    wq = Window.orderBy("abs_res", "day")
    n_cal = cal.count()
    import math as _math

    q_rank = _math.ceil(0.9 * (n_cal + 1))
    q_rank = min(q_rank, n_cal)
    qhat = (
        cal.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") == q_rank)
        .select(F.col("abs_res").alias("qhat"))
    )
    test = b.where("is_cal = 0").crossJoin(F.broadcast(qhat))
    return test.agg(
        F.lit(n_cal).cast("bigint").alias("n_calibration"),
        F.count("*").cast("bigint").alias("n_test"),
        F.max("qhat").cast("bigint").alias("qhat_cents"),
        F.sum((F.col("abs_res") <= F.col("qhat")).cast("int"))
        .cast("bigint")
        .alias("n_covered"),
        F.floor(
            F.sum((F.col("abs_res") <= F.col("qhat")).cast("int"))
            * 1000000
            / F.count("*")
        )
        .cast("bigint")
        .alias("coverage_ppm"),
    )


_CONFORMAL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0)))
         AS BIGINT) AS cents
  FROM orders GROUP BY 1),
b0 AS (
  SELECT day, cents,
    LAG(cents, 7) OVER (ORDER BY day) AS pred,
    ROW_NUMBER() OVER (ORDER BY day) AS rn,
    COUNT(*) OVER () AS n_days
  FROM daily),
b AS (
  SELECT *, CAST(FLOOR(n_days * 7 / 10) AS INT) AS split,
    abs(cents - pred) AS abs_res
  FROM b0 WHERE pred IS NOT NULL),
cal AS (SELECT * FROM b WHERE rn <= split),
nq AS (SELECT COUNT(*) AS n_cal FROM cal),
qh AS (
  SELECT abs_res AS qhat FROM (
    SELECT abs_res, ROW_NUMBER() OVER (ORDER BY abs_res, day) AS r
    FROM cal), nq
  WHERE r = least(CAST(CEIL(0.9 * (n_cal + 1)) AS BIGINT), n_cal)),
test AS (SELECT * FROM b WHERE rn > split)
SELECT CAST((SELECT n_cal FROM nq) AS BIGINT) AS n_calibration,
  CAST(COUNT(*) AS BIGINT) AS n_test,
  CAST(MAX(qh.qhat) AS BIGINT) AS qhat_cents,
  CAST(SUM(CASE WHEN test.abs_res <= qh.qhat THEN 1 ELSE 0 END)
       AS BIGINT) AS n_covered,
  CAST(FLOOR(SUM(CASE WHEN test.abs_res <= qh.qhat THEN 1 ELSE 0 END)
       * 1000000.0 / COUNT(*)) AS BIGINT) AS coverage_ppm
FROM test, qh
"""


def q_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the model-monitoring drift metric —
    between 1996 (reference) and 1997 (current) order totals: decile
    breakpoints come from the REFERENCE year's exact discrete deciles
    (rank arithmetic on cents), both years histogram against those
    fixed cuts, and PSI = Σ(p−q)·ln(p/q) with Laplace-smoothed shares.
    One pass per year + a broadcast 9-row cut table; the report also
    flags the standard 0.1/0.25 thresholds. ln folds on micro-rounded
    shares keep the statistic cross-engine exact. Sketch dual for the
    cut table: psi_cuts_sketch_audit (approx_percentile cuts with a
    rank-error verdict — the one-aggregation 100 TB path)."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ref = o.where(yr == 1996).select(cents.alias("c"))
    cur = o.where(yr == 1997).select(cents.alias("c"))
    # decile ranks come from the DISTRIBUTED global row_number
    # (operators/ranking: range-partitioned + broadcast offsets — no
    # single-partition window; the value at a given global rank is
    # deterministic regardless of tie order within equal cents). The 9
    # cut values are a bounded <= 9-row fetch; bucketing is then a
    # row-local array scan — no join, and duplicate cent values keep
    # their full multiplicity
    ranked_ref = RK.global_row_number(ref, ["c"], col_name="r")
    n_ref = ranked_ref.count()
    cut_vals = sorted(
        {
            r.c
            for r in ranked_ref.where(
                F.col("r").isin(*[(n_ref * d) // 10 for d in range(1, 10)])
            ).collect()
        }
    )
    cuts_arr = F.array(*[F.lit(int(v)) for v in cut_vals])

    def bucketize(df):
        b = F.size(F.filter(cuts_arr, lambda cut: cut < F.col("c")))
        return df.select(b.alias("b")).groupBy("b").agg(
            F.count("*").alias("n")
        )

    p = bucketize(ref).select(F.col("b"), F.col("n").alias("np"))
    q_ = bucketize(cur).select(F.col("b"), F.col("n").alias("nq"))
    spine = spark.range(0, 10).select(F.col("id").cast("int").alias("b"))
    j = (
        spine.join(p, "b", "left")
        .join(q_, "b", "left")
        .select(
            "b",
            F.coalesce("np", F.lit(0)).alias("np"),
            F.coalesce("nq", F.lit(0)).alias("nq"),
        )
    )
    tot = Window.rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    shares = j.select(
        "b",
        "np",
        "nq",
        (
            (F.col("np") + 1).cast("double")
            / (F.sum("np").over(tot) + 10).cast("double")
        ).alias("ps"),
        (
            (F.col("nq") + 1).cast("double")
            / (F.sum("nq").over(tot) + 10).cast("double")
        ).alias("qs"),
    )
    term = (F.col("ps") - F.col("qs")) * F.log(F.col("ps") / F.col("qs"))
    return shares.agg(
        F.sum("np").cast("bigint").alias("n_ref"),
        F.sum("nq").cast("bigint").alias("n_cur"),
        F.round(
            F.sum(F.round(term * 1e9).cast("decimal(38,0)")).cast("double")
            / 1e9,
            6,
        ).alias("psi"),
        (
            F.sum(F.round(term * 1e9).cast("decimal(38,0)")).cast("double")
            / 1e9
            >= 0.1
        ).cast("int").alias("drift_warning"),
        (
            F.sum(F.round(term * 1e9).cast("decimal(38,0)")).cast("double")
            / 1e9
            >= 0.25
        ).cast("int").alias("drift_alert"),
    )


_PSI_SQL = """
WITH ref AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE year(o_orderdate) = 1996),
cur AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE year(o_orderdate) = 1997),
nref AS (SELECT COUNT(*) AS n FROM ref),
cuts AS (
  SELECT list(DISTINCT cut ORDER BY cut) AS cl FROM (
    SELECT c AS cut FROM (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS r FROM ref), nref
    WHERE r IN (n * 1 // 10, n * 2 // 10, n * 3 // 10, n * 4 // 10,
                n * 5 // 10, n * 6 // 10, n * 7 // 10, n * 8 // 10,
                n * 9 // 10))),
pb AS (
  SELECT b, COUNT(*) AS np FROM (
    SELECT len(list_filter((SELECT cl FROM cuts), x -> x < c)) AS b
    FROM ref)
  GROUP BY b),
qb AS (
  SELECT b, COUNT(*) AS nq FROM (
    SELECT len(list_filter((SELECT cl FROM cuts), x -> x < c)) AS b
    FROM cur)
  GROUP BY b),
spine AS (SELECT unnest(generate_series(0, 9)) AS b),
j AS (
  SELECT spine.b, COALESCE(pb.np, 0) AS np, COALESCE(qb.nq, 0) AS nq
  FROM spine LEFT JOIN pb ON spine.b = pb.b
  LEFT JOIN qb ON spine.b = qb.b),
shares AS (
  SELECT b, np, nq,
    CAST(np + 1 AS DOUBLE) / CAST(SUM(np) OVER () + 10 AS DOUBLE) AS ps,
    CAST(nq + 1 AS DOUBLE) / CAST(SUM(nq) OVER () + 10 AS DOUBLE) AS qs
  FROM j)
SELECT CAST(SUM(np) AS BIGINT) AS n_ref,
  CAST(SUM(nq) AS BIGINT) AS n_cur,
  ROUND(CAST(SUM(CAST(ROUND((ps - qs) * ln(ps / qs) * 1e9)
        AS DECIMAL(38,0))) AS DOUBLE) / 1e9, 6) AS psi,
  CAST(CAST(SUM(CAST(ROUND((ps - qs) * ln(ps / qs) * 1e9)
        AS DECIMAL(38,0))) AS DOUBLE) / 1e9 >= 0.1 AS INT)
    AS drift_warning,
  CAST(CAST(SUM(CAST(ROUND((ps - qs) * ln(ps / qs) * 1e9)
        AS DECIMAL(38,0))) AS DOUBLE) / 1e9 >= 0.25 AS INT)
    AS drift_alert
FROM shares
"""


def q_ship_delay_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch dual of bucketed_percentile_error's exact side (r5 VERDICT
    #6 — the 100 TB path as a NAMED query, not a docstring promise):
    p50/p90/p99 ship delay via approx_percentile (KLL-class mergeable
    sketch, fixed state, one pass) judged against the exact order
    statistic computed distributed (min delay whose cumulative per-value
    count reaches ceil(q·n) — the bounded-domain recipe the exact query
    uses). The hashable surface is the exact value plus an in-query
    tolerance verdict on the sketch (the sketch_rollup_daily_users
    pattern): accuracy=10000 bounds rank error at n/10000, so a ±2-day
    drift on integer day delays means the sketch or its merge broke —
    and the flipped verdict breaks the oracle hash."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    delays = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("delay")
    ).localCheckpoint(eager=True)
    qs_ = [(50, 0.50), (90, 0.90), (99, 0.99)]
    n1 = delays.agg(F.count("*").alias("n"))
    # exact side: per-value counts (delay domain is schema-bounded,
    # shipdate − orderdate ∈ [1, 121]). The delays checkpoint erased the
    # datediff lineage, so this ≤122-row frame is checkpointed WITH a
    # __bounded marker (the documented census convention for provably
    # tiny checkpoints) — which also means the three quantile picks
    # reread 122 rows instead of re-aggregating the fact checkpoint
    vc = (
        delays.groupBy("delay")
        .agg(F.count("*").alias("c"))
        .withColumn("__bounded_delay_domain_1_to_121", F.lit(1))
        .localCheckpoint(eager=True)
    )
    wv = Window.orderBy("delay").rowsBetween(Window.unboundedPreceding, 0)
    cumv = (
        vc.withColumn("cumc", F.sum("c").over(wv))
        .crossJoin(F.broadcast(n1))
    )
    sk = delays.agg(
        F.percentile_approx(
            "delay", [q for _, q in qs_], 10_000
        ).alias("sk_arr")
    ).select(
        F.posexplode("sk_arr").alias("pos", "sketch_days")
    )
    exact = None
    for i, (label, q) in enumerate(qs_):
        k = F.greatest(F.ceil(F.lit(q) * F.col("n")), F.lit(1))
        pick = (
            cumv.filter(F.col("cumc") >= k)
            .orderBy("delay")
            .limit(1)
            .select(
                F.lit(label).cast("bigint").alias("p"),
                F.lit(i).alias("pos"),
                F.col("delay").cast("bigint").alias("exact_days"),
            )
        )
        exact = pick if exact is None else exact.unionByName(pick)
    return (
        exact.join(F.broadcast(sk), "pos")
        .select(
            "p",
            "exact_days",
            (F.abs(F.col("sketch_days") - F.col("exact_days")) <= 2).alias(
                "sketch_within_2d"
            ),
        )
        .orderBy("p")
    )


_SHIP_DELAY_SKETCH_SQL = """
WITH delays AS (
  SELECT datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
    AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
n AS (SELECT COUNT(*) AS n FROM delays),
vc AS (SELECT delay, COUNT(*) AS c FROM delays GROUP BY delay),
cumv AS (
  SELECT delay, SUM(c) OVER (ORDER BY delay
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
  FROM vc),
qs AS (SELECT * FROM (VALUES (50, 0.50), (90, 0.90), (99, 0.99)) t(p, q))
SELECT CAST(p AS BIGINT) AS p,
  CAST((SELECT MIN(delay) FROM cumv
        WHERE cumc >= GREATEST(CEIL(q * (SELECT n FROM n)), 1)) AS BIGINT)
    AS exact_days,
  TRUE AS sketch_within_2d
FROM qs ORDER BY p
"""


def q_psi_cuts_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch dual of psi_drift_report's exact decile cuts (r5 VERDICT
    #6): the reference-year cut table from approx_percentile instead of
    the distributed exact rank. The sketch guarantees rank error
    <= n/accuracy, so the audit verifies each sketch cut's REALIZED rank
    (count of cents strictly below it) lands within n·5e-4 + 1 of the
    target decile rank — a verdict both engines can hash (DuckDB emits
    the expected TRUE; a broken sketch flips Spark's side). At 100 TB
    the sketch path replaces the ranged shuffle with one mergeable-state
    aggregation — this query IS that path, permanently pinned against
    the exact one."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ref = o.where(F.year("o_orderdate") == 1996).select(cents.alias("c"))
    ref = ref.localCheckpoint(eager=True)
    n1 = ref.agg(F.count("*").alias("n"))
    cuts = ref.agg(
        F.percentile_approx("c", [d / 10.0 for d in range(1, 10)], 10_000).alias(
            "arr"
        )
    ).select(F.posexplode("arr").alias("pos", "cut"))
    ranks = (
        ref.crossJoin(F.broadcast(cuts))
        .groupBy("pos", "cut")
        .agg(F.sum((F.col("c") < F.col("cut")).cast("long")).alias("realized_rank"))
        .crossJoin(F.broadcast(n1))
    )
    d = F.col("pos") + 1
    # exact integer division (a double divide could land on x.9999…)
    target = F.expr("n * (pos + 1) div 10").cast("bigint")
    tol = F.ceil(F.col("n") * 5e-4) + 1
    return ranks.select(
        d.cast("bigint").alias("decile"),
        F.col("n").cast("bigint").alias("n_ref"),
        target.alias("target_rank"),
        (F.abs(F.col("realized_rank") - target) <= tol).alias(
            "sketch_rank_within_tol"
        ),
    ).orderBy("decile")


_PSI_CUTS_SKETCH_SQL = """
WITH ref AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
  WHERE year(o_orderdate) = 1996),
n AS (SELECT COUNT(*) AS n FROM ref)
SELECT CAST(d AS BIGINT) AS decile,
  CAST((SELECT n FROM n) AS BIGINT) AS n_ref,
  CAST((SELECT n FROM n) * d // 10 AS BIGINT) AS target_rank,
  TRUE AS sketch_rank_within_tol
FROM unnest(generate_series(1, 9)) t(d) ORDER BY decile
"""


def q_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling distribution (Mikolov et al. 2013):
    unigram counts raised to the 3/4 power, normalized to ppm, with the
    cumulative distribution that an alias/binary-search sampler walks.
    One token-count pass; the vocabulary grows with the corpus (Heaps'
    law), so the cumulative sum is the distributed running sum
    (operators/ranking.py) and the normalizer is max(cumulative) off the
    same checkpointed frame (valid ONLY because the micro-rounded
    weights are non-negative — the running sum is monotone; on signed
    values take the last cumulative by order, not max). Weights are
    micro-rounded integers before the exact cumulative sum, so the
    table is bit-identical on both engines."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    w_micro = F.round(F.pow(F.col("c").cast("double"), 0.75) * 1e6).cast(
        "bigint"
    )
    b = counts.select("tok", "c", w_micro.alias("w"))
    # no dispatch: the frame is vocabulary-grain (grows with the crawl)
    # and the r11 isolated A/B measured the dispatched form as a wash
    # (1.23 -> 1.29 s min) — the probe's cache write buys nothing here
    cum = RK.global_running_sum(b, ["tok"], ["w"], ["cum_w"])
    tot = cum.agg(F.max("cum_w").cast("bigint").alias("tot_w"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.col("c").cast("bigint").alias("count"),
            F.expr("w * 1000000 div tot_w").cast("bigint").alias("prob_ppm"),
            F.expr("cum_w * 1000000 div tot_w").cast("bigint").alias("cum_ppm"),
        )
        .orderBy("tok")
    )


_NEG_SAMPLING_SQL = f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
  GROUP BY tok),
b AS (
  SELECT tok, c,
    CAST(ROUND(power(CAST(c AS DOUBLE), 0.75) * 1e6) AS BIGINT) AS w
  FROM counts)
SELECT tok, CAST(c AS BIGINT) AS count,
  CAST(w * 1000000 // SUM(w) OVER () AS BIGINT) AS prob_ppm,
  CAST(SUM(w) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING) * 1000000
       // SUM(w) OVER () AS BIGINT) AS cum_ppm
FROM b ORDER BY tok
"""


def q_t5_span_corruption_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption, deterministically seeded: a position is
    a span START iff md5(doc_id, position) lands under the rate
    threshold (~5%), each span masks 3 tokens (clipped at the doc end),
    overlaps merge by construction (a position is masked iff ANY of the
    3 preceding starts fired). Per doc: tokens, span starts, masked
    tokens, and the corruption ratio in ppm — the exact preprocessing
    census a masked-LM data pipeline audits before training. All
    row-local array lambdas; hash-seeded, so any engine/rerun draws the
    same masks."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    d = docs.select("doc_id", F.size(toks).alias("n"))
    idx = F.sequence(F.lit(1), F.col("n"))
    is_start = lambda i: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("_"),
                        i.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        < 5
    )
    starts = F.filter(idx, is_start)
    masked = F.filter(
        idx,
        lambda i: F.exists(
            starts, lambda s: (s <= i) & (i < s + 3)
        ),
    )
    b = d.select(
        "doc_id",
        "n",
        F.size(starts).alias("n_spans"),
        F.size(masked).alias("n_masked"),
    )
    return b.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("n_spans").cast("bigint").alias("n_span_starts"),
        F.col("n_masked").cast("bigint").alias("n_masked"),
        F.expr("n_masked * 1000000 div greatest(n, 1)")
        .cast("bigint")
        .alias("corruption_ppm"),
    ).orderBy("doc_id")


_T5_SPAN_SQL = f"""
WITH d AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n FROM documents),
b AS (
  SELECT doc_id, n,
    list_filter(generate_series(1, n),
      i -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_'
            || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 100 < 5) AS starts
  FROM d)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
  CAST(len(starts) AS BIGINT) AS n_span_starts,
  CAST(len(list_filter(generate_series(1, n),
    i -> len(list_filter(starts, s -> s <= i AND i < s + 3)) > 0))
    AS BIGINT) AS n_masked,
  CAST(len(list_filter(generate_series(1, n),
    i -> len(list_filter(starts, s -> s <= i AND i < s + 3)) > 0))
    * 1000000 // greatest(n, 1) AS BIGINT) AS corruption_ppm
FROM b ORDER BY doc_id
"""


def q_dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper: near-dup components (the iterative
    min-label operator over the shared LSH pairs) keep the member with
    the HIGHEST quality score (Gopher-style token count × stopword
    signal; ties → min doc_id) instead of the naive min-id — the policy
    real corpora want, since the canonical copy should be the best one.
    Per component: kept doc, members, dropped count, and whether the
    quality keeper disagrees with min-id. Components are tiny; the
    expensive stages (pairs, labels) are the family's shared passes."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    comp = DD.connected_components(pairs)
    toks = TX.tokens(F.col("text"))
    stop_en = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    quality = (
        F.size(toks) * 10
        + F.size(F.filter(toks, lambda x: F.array_contains(stop_en, x)))
    )
    q_ = docs.select(F.col("doc_id").alias("id"), quality.alias("q"))
    j = comp.join(q_, "id")
    keeper = (
        j.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max_by(
                F.col("id"), F.struct(F.col("q").alias("q"),
                                      (-F.col("id")).alias("nid"))
            ).alias("kept_id"),
            F.min("id").alias("min_id"),
        )
    )
    return (
        keeper.select(
            F.col("component").cast("bigint").alias("component"),
            "n_members",
            F.col("kept_id").cast("bigint").alias("kept_id"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
            (F.col("kept_id") != F.col("min_id")).cast("int").alias(
                "keeper_differs_from_min_id"
            ),
        )
        .orderBy("component")
    )


def _dedup_best_sql() -> str:
    # reuse the candidate/verify chain from _JACCARD_SQL (the shared
    # dedup constants), close components with the same reach()
    # transitive closure the dedup_components twin uses, then take the
    # quality argmax per component via a rank window
    body = _JACCARD_SQL.split("SELECT id_a")[0]
    # body ends after the `verified` CTE; make the whole chain RECURSIVE
    body = body.replace("WITH s AS", "WITH RECURSIVE s AS", 1)
    return f"""{body}
, pairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(s2, t2) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.s2, e.dst FROM reach r JOIN edges e ON r.t2 = e.src),
labels AS (
  SELECT s2 AS id, MIN(t2) AS component FROM reach GROUP BY s2),
toks AS (
  SELECT doc_id AS id,
    len({_TOKS_SQL}) * 10
    + len(list_filter({_TOKS_SQL}, x -> list_contains(
        ['the','and','of','to','in','is','that','it','for','was'], x)))
      AS q
  FROM documents),
j AS (SELECT l.id, l.component, t.q FROM labels l JOIN toks t
      ON l.id = t.id),
ranked AS (
  SELECT component, id, q,
    ROW_NUMBER() OVER (PARTITION BY component
                       ORDER BY q DESC, id) AS rnk,
    COUNT(*) OVER (PARTITION BY component) AS n_members,
    MIN(id) OVER (PARTITION BY component) AS min_id
  FROM j)
SELECT CAST(component AS BIGINT) AS component,
  CAST(n_members AS BIGINT) AS n_members,
  CAST(id AS BIGINT) AS kept_id,
  CAST(n_members - 1 AS BIGINT) AS n_dropped,
  CAST(id <> min_id AS INT) AS keeper_differs_from_min_id
FROM ranked WHERE rnk = 1 ORDER BY component
"""


def q_retrieval_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-evaluation metrics for the similarity stack — NDCG@10,
    MRR, and recall@10 per query — with binary relevance defined as
    label agreement (the standard proxy when no judgments exist): each
    of the 20 lowest-id query vectors ranks the corpus by cosine
    (self excluded, total-order tie-break), relevant = same label.
    DCG discounts are Σ rel/log2(rank+1) micro-rounded before
    summation; ideal DCG uses the query's relevant-count (capped at
    10). The scoring pass is the broadcast-query brute-force shape —
    at scale the same metrics run over the LSH/IVF candidate lists to
    measure THEIR recall (similarity_recall_report's companion)."""
    emb = _t(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("q_label"),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, v: acc + v
    )
    dot = fold(
        F.zip_with(
            "embedding", "qvec",
            lambda a, b: a.cast("double") * b.cast("double"),
        )
    )
    na = F.sqrt(
        fold(F.transform(
            "embedding", lambda x: x.cast("double") * x.cast("double")))
    )
    nb = F.sqrt(
        fold(F.transform(
            "qvec", lambda x: x.cast("double") * x.cast("double")))
    )
    scored = (
        emb.crossJoin(F.broadcast(qset))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            (F.col("label") == F.col("q_label")).cast("int").alias("rel"),
            F.round(dot / (na * nb), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    dcg_term = F.when(
        (F.col("rnk") <= 10) & (F.col("rel") == 1),
        F.round(
            F.lit(1e6) / F.log2(F.col("rnk").cast("double") + 1.0)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    per_q = ranked.groupBy("q_id").agg(
        F.sum("rel").alias("n_relevant"),
        F.sum(dcg_term).alias("dcg_micro"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        F.sum(
            ((F.col("rnk") <= 10) & (F.col("rel") == 1)).cast("int")
        ).alias("hits_at_10"),
    )
    ideal_k = F.least(F.col("n_relevant"), F.lit(10)).cast("int")
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.greatest(ideal_k, F.lit(1))),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.when(
            i <= ideal_k,
            F.round(F.lit(1e6) / F.log2(i.cast("double") + 1.0)).cast(
                "bigint"
            ),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return (
        per_q.select(
            "q_id",
            F.col("n_relevant").cast("bigint").alias("n_relevant"),
            F.expr("dcg_micro").cast("bigint").alias("dcg_micro"),
            idcg.alias("idcg_micro"),
            F.floor(
                F.col("dcg_micro") * 1000000 / F.greatest(idcg, F.lit(1))
            )
            .cast("bigint")
            .alias("ndcg_ppm"),
            # zero-relevant guard: a query with no same-label neighbor
            # has first_rel NULL and n_relevant 0 — report 0, not a
            # silently-vanishing NULL row (ADVICE r3)
            F.coalesce(
                F.floor(F.lit(1e6) / F.col("first_rel")).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("rr_micro"),
            F.col("hits_at_10").cast("bigint").alias("hits_at_10"),
            F.coalesce(
                F.floor(
                    F.col("hits_at_10")
                    * 1e6
                    / F.greatest(
                        F.least(F.col("n_relevant"), F.lit(10)), F.lit(1)
                    )
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("recall10_ppm"),
        )
        .orderBy("q_id")
    )


_RETRIEVAL_METRICS_SQL = """
WITH qset AS (
  SELECT vec_id AS q_id, embedding AS qvec, label AS q_label
  FROM embeddings WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, q.q_label, e.vec_id,
    CAST(e.label = q.q_label AS INT) AS rel,
    ROUND(list_sum(list_transform(generate_series(1, len(e.embedding)),
        i -> e.embedding[i]::DOUBLE * q.qvec[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(e.embedding,
           x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(q.qvec,
           x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM embeddings e, qset q WHERE e.vec_id <> q.q_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, vec_id) AS rnk
  FROM scored),
per_q AS (
  SELECT q_id, SUM(rel) AS n_relevant,
    SUM(CASE WHEN rnk <= 10 AND rel = 1
        THEN CAST(ROUND(1e6 / log2(CAST(rnk AS DOUBLE) + 1.0)) AS BIGINT)
        ELSE 0 END) AS dcg_micro,
    MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
    SUM(CASE WHEN rnk <= 10 AND rel = 1 THEN 1 ELSE 0 END) AS hits_at_10
  FROM ranked GROUP BY q_id),
w_idcg AS (
  SELECT q_id, n_relevant, dcg_micro, first_rel, hits_at_10,
    COALESCE(list_sum(list_transform(
      generate_series(1, CAST(least(n_relevant, 10) AS BIGINT)),
      i -> CAST(ROUND(1e6 / log2(CAST(i AS DOUBLE) + 1.0)) AS BIGINT))), 0)
      AS idcg_micro
  FROM per_q)
SELECT q_id, CAST(n_relevant AS BIGINT) AS n_relevant,
  CAST(dcg_micro AS BIGINT) AS dcg_micro,
  CAST(idcg_micro AS BIGINT) AS idcg_micro,
  CAST(FLOOR(dcg_micro * 1000000 / greatest(idcg_micro, 1)) AS BIGINT)
    AS ndcg_ppm,
  COALESCE(CAST(FLOOR(1e6 / first_rel) AS BIGINT), 0) AS rr_micro,
  CAST(hits_at_10 AS BIGINT) AS hits_at_10,
  COALESCE(CAST(FLOOR(hits_at_10 * 1e6
    / greatest(least(n_relevant, 10), 1)) AS BIGINT), 0)
    AS recall10_ppm
FROM w_idcg ORDER BY q_id
"""


def q_multimodal_ppm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PPM decode, oracle-gated end-to-end — the registry-dispatch
    proof: the SAME digest pixels as multimodal_image_features ship in
    a P6 netpbm container instead of BMP, round-trip through the PPM
    encoder and the magic-byte decode registry inside mapInPandas, and
    must produce the IDENTICAL features (the DuckDB twin is the same
    md5 recompute — container-independence is the contract). A wrong
    registry dispatch, header parse, or the BMP path's padding logic
    leaking into PPM breaks the hash. Payload bytes never shuffle."""
    import hashlib
    from collections.abc import Iterator as _It

    import pandas as pd  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = "doc_id long, feat_mean double, width int, height int"

    def _gen_and_decode(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5(str(text).encode("utf-8")).digest()
                rgb = (digest * 3)[:48]  # 4*4*3 bytes
                payload = MM.encode_ppm(4, 4, rgb)
                feats = MM._decode_payload(payload)  # registry → PPM path
                out.append(
                    {
                        "doc_id": doc_id,
                        "feat_mean": round(feats[0], 6),
                        "width": int(feats[1]),
                        "height": int(feats[2]),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "feat_mean", "width", "height"]
            )

    return docs.mapInPandas(_gen_and_decode, schema=schema)


# identical twin to _MM_IMAGE_SQL on purpose: features must be
# container-independent (BMP vs PPM carry the same pixels)
_MM_PPM_SQL = _MM_IMAGE_SQL


def q_multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, oracle-gated end-to-end: the SAME digest pixels
    as multimodal_image_features ship in a zlib-COMPRESSED PNG container
    (8-bit truecolor, CRC-checked chunks, filtered scanlines) through
    the magic-byte decode registry inside mapInPandas, and must produce
    IDENTICAL features (twin = the same md5 recompute). Unlike
    BMP/PPM, the payload round-trips an actual DEFLATE stream — a
    broken inflate, CRC pass, or scanline de-filter breaks the hash.
    Payload bytes never shuffle."""
    import hashlib
    from collections.abc import Iterator as _It

    import pandas as pd  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = "doc_id long, feat_mean double, width int, height int"

    def _gen_and_decode(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5(str(text).encode("utf-8")).digest()
                rgb = (digest * 3)[:48]  # 4*4*3 bytes
                payload = MM.encode_png(4, 4, rgb)
                feats = MM._decode_payload(payload)  # registry → PNG path
                out.append(
                    {
                        "doc_id": doc_id,
                        "feat_mean": round(feats[0], 6),
                        "width": int(feats[1]),
                        "height": int(feats[2]),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "feat_mean", "width", "height"]
            )

    return docs.mapInPandas(_gen_and_decode, schema=schema)


# identical twin again: BMP, PPM and PNG carry the same pixels, so the
# features are container-independent by contract
_MM_PNG_SQL = _MM_IMAGE_SQL


def q_topk_by_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k WITHOUT a rank window: per nation, the top-3
    customers by account balance via a SALTED two-level sorted-slice
    aggregate. Level 1 groups on (nation, salt=pmod(custkey,64)) and
    keeps only its local top-3, so no single aggregation buffer ever
    holds more than 1/64th of a nation's rows; level 2 re-slices the
    ≤ 3×64 survivors per nation. Honest bound: collect_list's partial
    state is still the salted group's rows (Spark has no k-bounded
    built-in UDAF) — the salt fan-out is the memory dial, and a heap
    UDAF is the true constant-state shape. Because max salt-group
    top-3 ⊇ nation top-3, the two-level result is exact. Emitted as
    (nation, rank, custkey, cents); total-order tie-breaks on custkey
    keep both engines exact."""
    cust = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    kv = F.struct(
        (-cents).alias("neg"), F.col("c_custkey").alias("ck")
    )
    lvl1 = (
        cust.groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.pmod(F.col("c_custkey"), F.lit(64)).alias("salt"),
        )
        .agg(F.slice(F.sort_array(F.collect_list(kv)), 1, 3).alias("t1"))
        .select("nationkey", F.explode("t1").alias("kv"))
    )
    per = lvl1.groupBy("nationkey").agg(
        F.slice(F.sort_array(F.collect_list("kv")), 1, 3).alias("top")
    )
    ex = per.select(
        "nationkey",
        F.posexplode("top").alias("pos0", "kv"),
    )
    return ex.select(
        "nationkey",
        (F.col("pos0") + 1).cast("bigint").alias("rnk"),
        F.col("kv.ck").cast("bigint").alias("custkey"),
        (-F.col("kv.neg")).cast("bigint").alias("cents"),
    ).orderBy("nationkey", "rnk")


_TOPK_AGG_SQL = """
WITH per AS (
  SELECT c_nationkey AS nationkey,
    list_slice(
      list(struct_pack(neg := -CAST(ROUND(c_acctbal * 100) AS BIGINT),
                       ck := c_custkey)
           ORDER BY -CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey),
      1, 3) AS top
  FROM customer GROUP BY 1)
SELECT nationkey, CAST(u.i AS BIGINT) AS rnk,
  CAST(top[u.i].ck AS BIGINT) AS custkey,
  CAST(-top[u.i].neg AS BIGINT) AS cents
FROM per, unnest(generate_series(1, len(top))) AS u(i)
ORDER BY nationkey, rnk
"""


