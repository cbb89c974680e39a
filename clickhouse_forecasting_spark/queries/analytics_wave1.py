# analytics widening wave 1: stats, encodings, eval reports
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, completed): it
# imports its dependencies explicitly; __init__.py merges its names
# into the shared package namespace so the registry and cross-family
# consumers see them exactly as before.

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import parquet_files
from ..functions import text as TX
from ..functions.text import STOPWORDS
from ..operators import ranking as RK
from .catalog_relational import _dsum, _orders_daily, _t
from .sketches_analytics import _daily_cents
from .text_analysis import _TOKS_SQL

logger = logging.getLogger("clickhouse_forecasting_spark")


def q_ch_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse array-function parity pack over each doc's token-length
    sequence: arraySum (total chars), arrayDistinct (distinct lengths),
    arrayCompact length (count of runs of equal consecutive values),
    arrayDifference (sum of absolute step changes), arrayMax/arrayMin.
    Every op is a row-local higher-order array expression inside
    whole-stage codegen — zero shuffles before the output sort, the
    embarrassing-parallel shape array analytics should have. All values
    integer-exact."""
    docs = _t(spark, sf_dir, "documents")
    lens = F.transform(TX.tokens(F.col("text")), lambda t: F.length(t))
    d = docs.select("doc_id", lens.alias("l"))
    n = F.size("l")
    # guarded: Spark's sequence(2, 1) would DESCEND for a 1-token doc
    idx2 = F.when(n >= 2, F.sequence(F.lit(2), n)).otherwise(
        F.array().cast("array<int>")
    )
    step_ne = F.transform(
        idx2,
        lambda i: F.when(
            F.element_at(F.col("l"), i) != F.element_at(F.col("l"), i - 1), 1
        ).otherwise(0),
    )
    abs_diff = F.transform(
        idx2,
        lambda i: F.abs(
            F.element_at(F.col("l"), i) - F.element_at(F.col("l"), i - 1)
        ),
    )
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        isum(F.col("l")).alias("total_chars"),
        F.size(F.array_distinct("l")).cast("bigint").alias("n_distinct_lens"),
        (isum(step_ne) + 1).alias("n_runs"),
        isum(abs_diff).alias("sum_abs_diff"),
        F.array_max("l").cast("bigint").alias("max_len"),
        F.array_min("l").cast("bigint").alias("min_len"),
    ).orderBy("doc_id")


_CH_ARRAY_SQL = f"""
WITH d AS (
  SELECT doc_id, list_transform({_TOKS_SQL}, t -> length(t)) AS l
  FROM documents)
SELECT doc_id,
  CAST(len(l) AS BIGINT) AS n_tokens,
  CAST(COALESCE(list_sum(l), 0) AS BIGINT) AS total_chars,
  CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct_lens,
  CAST(COALESCE(list_sum(list_transform(generate_series(2, len(l)),
    i -> CASE WHEN l[i] <> l[i-1] THEN 1 ELSE 0 END)), 0) + 1 AS BIGINT)
    AS n_runs,
  CAST(COALESCE(list_sum(list_transform(generate_series(2, len(l)),
    i -> abs(l[i] - l[i-1]))), 0) AS BIGINT) AS sum_abs_diff,
  CAST(list_max(l) AS BIGINT) AS max_len,
  CAST(list_min(l) AS BIGINT) AS min_len
FROM d ORDER BY doc_id
"""


def q_sample_by_user_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse SAMPLE-BY semantics: hash-RANGE sampling on the user
    key keeps every user all-or-nothing (bucket = md5(user) mod 8, keep
    bucket 1) — unlike row-Bernoulli, a sampled user's sessions, funnels,
    and retention stay COMPLETE, so behavioral metrics computed on the
    sample are unbiased per-user. Report: per event type, sampled
    events/users vs totals with exact ppm rates (expected ~125000).
    Row-local bucketing, one aggregation — the sample is reproducible on
    any engine, any partition order."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 8
    )
    b = ev.select("event_type", "user_id", bucket.alias("bucket"))
    return (
        b.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum((F.col("bucket") == 1).cast("int"))
            .cast("bigint")
            .alias("sampled_events"),
            F.countDistinct(
                F.when(F.col("bucket") == 1, F.col("user_id"))
            )
            .cast("bigint")
            .alias("sampled_users"),
        )
        .withColumn(
            "event_rate_ppm",
            F.expr("sampled_events * 1000000 div n_events").cast("bigint"),
        )
        .orderBy("event_type")
    )


_SAMPLE_BY_SQL = """
WITH b AS (
  SELECT event_type, user_id,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bucket
  FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sampled_events,
  CAST(COUNT(DISTINCT CASE WHEN bucket = 1 THEN user_id END) AS BIGINT)
    AS sampled_users,
  CAST(SUM(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) * 1000000
       // COUNT(*) AS BIGINT) AS event_rate_ppm
FROM b GROUP BY event_type ORDER BY event_type
"""


def q_locf_impute_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation on the daily series: revenue on days where
    day-of-month % 7 = 3 is masked to NULL (a deterministic outage
    pattern), then repaired by LOCF (last observation carried forward)
    with a backward-fill for any leading gap — the standard sensor/KPI
    repair pair. Both directions are IGNORE-NULLS window edges over the
    date order; on the tiny daily frame this is one sort, and at scale
    the same windows partition by series key. Output flags which days
    were imputed so downstream consumers can weight them."""
    daily = _orders_daily(spark, sf_dir).select(
        "date", F.round("total_revenue", 2).alias("rev")
    )
    masked = daily.withColumn(
        "rev_masked",
        F.when(F.dayofmonth("date") % 7 == 3, F.lit(None)).otherwise(F.col("rev")),
    )
    w_fwd = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    w_bwd = Window.orderBy("date").rowsBetween(0, Window.unboundedFollowing)
    return (
        masked.withColumn("locf", F.last("rev_masked", ignorenulls=True).over(w_fwd))
        .withColumn("bfill", F.first("rev_masked", ignorenulls=True).over(w_bwd))
        .select(
            "date",
            F.coalesce("locf", "bfill").alias("rev_imputed"),
            F.col("rev_masked").isNull().alias("was_imputed"),
        )
        .orderBy("date")
    )


_LOCF_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS date,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS rev
  FROM orders GROUP BY 1),
masked AS (
  SELECT date,
    CASE WHEN dayofmonth(date) % 7 = 3 THEN NULL ELSE rev END AS rev_masked
  FROM daily)
SELECT date,
  COALESCE(
    LAST_VALUE(rev_masked IGNORE NULLS) OVER (
      ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    FIRST_VALUE(rev_masked IGNORE NULLS) OVER (
      ORDER BY date ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    AS rev_imputed,
  rev_masked IS NULL AS was_imputed
FROM masked ORDER BY date
"""


def q_pii_redaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the compliance gate every training
    corpus passes before the tokenizer. The fixture text is synthetic
    word-soup, so the query first injects DETERMINISTIC PII (emails on
    doc_id%7=3, phone numbers on %11=5, SSN-shaped ids on %13=8 — in a
    real corpus this stage is the raw data), then runs the real
    machinery: three disjoint regex detectors, ordered regexp_replace
    redaction, and a per-source report of docs flagged, hits per PII
    class, chars redacted, and a residual_pii self-check that MUST be 0
    (redaction missed nothing). All row-local regex work in codegen —
    embarrassingly parallel at 100 TB; the shuffle carries one 8-int
    row per doc."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 7 == 3,
               F.format_string(" contact user%d@mail-example.org", did)
               ).otherwise(F.lit("")),
        F.when(did % 11 == 5,
               F.format_string(" call 555-%03d-%04d", did % 1000, did % 10000)
               ).otherwise(F.lit("")),
        F.when(did % 13 == 8,
               F.format_string(" id 078-05-%04d", did % 10000)
               ).otherwise(F.lit("")),
    )
    # character classes only (no backslash escapes) so the identical
    # pattern strings drive Java regex (Spark) and RE2 (DuckDB)
    p_email = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+"
    p_phone = "555-[0-9]{3}-[0-9]{4}"
    p_ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    base = docs.select("source", aug.alias("aug"))
    n = lambda c, pat: F.size(  # noqa: E731
        F.regexp_extract_all(c, F.lit(pat), F.lit(0))
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), F.lit(p_email), F.lit("[EMAIL]")),
            F.lit(p_phone), F.lit("[PHONE]")),
        F.lit(p_ssn), F.lit("[SSN]"))
    per = base.select(
        "source",
        n(F.col("aug"), p_email).alias("e"),
        n(F.col("aug"), p_phone).alias("p"),
        n(F.col("aug"), p_ssn).alias("s"),
        (F.length("aug") - F.length(red)).alias("chars_cut"),
        (n(red, p_email) + n(red, p_phone) + n(red, p_ssn)).alias("residual"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(((F.col("e") + F.col("p") + F.col("s")) > 0).cast("int"))
            .cast("bigint").alias("n_pii_docs"),
            F.sum("e").cast("bigint").alias("n_emails"),
            F.sum("p").cast("bigint").alias("n_phones"),
            F.sum("s").cast("bigint").alias("n_ssns"),
            F.sum("chars_cut").cast("bigint").alias("chars_redacted"),
            F.sum("residual").cast("bigint").alias("residual_pii"),
        )
        .orderBy("source")
    )


_PII_SQL = """
WITH aug AS (
  SELECT source,
    text ||
    CASE WHEN doc_id % 7 = 3
      THEN printf(' contact user%d@mail-example.org', doc_id) ELSE '' END ||
    CASE WHEN doc_id % 11 = 5
      THEN printf(' call 555-%03d-%04d', doc_id % 1000, doc_id % 10000)
      ELSE '' END ||
    CASE WHEN doc_id % 13 = 8
      THEN printf(' id 078-05-%04d', doc_id % 10000) ELSE '' END AS aug
  FROM documents),
red AS (
  SELECT source, aug,
    regexp_replace(regexp_replace(regexp_replace(aug,
      '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+', '[EMAIL]', 'g'),
      '555-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g') AS redtext
  FROM aug),
per AS (
  SELECT source,
    len(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+')) AS e,
    len(regexp_extract_all(aug, '555-[0-9]{3}-[0-9]{4}')) AS p,
    len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS s,
    length(aug) - length(redtext) AS chars_cut,
    len(regexp_extract_all(redtext, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+'))
      + len(regexp_extract_all(redtext, '555-[0-9]{3}-[0-9]{4}'))
      + len(regexp_extract_all(redtext, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))
      AS residual
  FROM red)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN e + p + s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
  CAST(SUM(e) AS BIGINT) AS n_emails,
  CAST(SUM(p) AS BIGINT) AS n_phones,
  CAST(SUM(s) AS BIGINT) AS n_ssns,
  CAST(SUM(chars_cut) AS BIGINT) AS chars_redacted,
  CAST(SUM(residual) AS BIGINT) AS residual_pii
FROM per GROUP BY source ORDER BY source
"""


def q_agg_if_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``-If`` combinator parity (countIf / sumIf / avgIf /
    uniqExactIf / minIf / maxIf): the whole conditional-aggregate family
    folded into ONE pass over orders, grouped by order year. Money sums
    are exact cents; avgIf divides the exact sum by the If-count in
    double at the very end. Every measure is map-side combinable — one
    shuffle on ~7 year keys regardless of scale."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date")).alias("yr")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    is_f = F.col("o_orderstatus") == "F"
    urgent = F.col("o_orderpriority").startswith("1-")
    is_open = F.col("o_orderstatus") == "O"
    return (
        o.groupBy(yr)
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(is_f.cast("int")).cast("bigint").alias("count_if_final"),
            F.sum(F.when(urgent, cents).otherwise(F.lit(0)))
            .cast("bigint").alias("sum_if_urgent_cents"),
            F.round(
                F.sum(F.when(is_open, cents)).cast("double")
                / (F.sum(is_open.cast("int")) * 100),
                6,
            ).alias("avg_if_open_price"),
            F.countDistinct(F.when(is_open, F.col("o_custkey")))
            .cast("bigint").alias("uniq_if_open_buyers"),
            F.min(F.when(urgent, F.col("o_orderdate").cast("date")))
            .alias("min_if_urgent_date"),
            F.max(F.when(urgent, F.col("o_orderdate").cast("date")))
            .alias("max_if_urgent_date"),
        )
        .orderBy("yr")
    )


_AGG_IF_SQL = """
SELECT year(CAST(o_orderdate AS DATE)) AS yr,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS count_if_final,
  CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
    FILTER (o_orderpriority LIKE '1-%'), 0) AS BIGINT) AS sum_if_urgent_cents,
  ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
          FILTER (o_orderstatus = 'O') AS DOUBLE)
        / (COUNT(*) FILTER (o_orderstatus = 'O') * 100), 6)
    AS avg_if_open_price,
  CAST(COUNT(DISTINCT o_custkey) FILTER (o_orderstatus = 'O') AS BIGINT)
    AS uniq_if_open_buyers,
  MIN(CAST(o_orderdate AS DATE)) FILTER (o_orderpriority LIKE '1-%')
    AS min_if_urgent_date,
  MAX(CAST(o_orderdate AS DATE)) FILTER (o_orderpriority LIKE '1-%')
    AS max_if_urgent_date
FROM orders GROUP BY yr ORDER BY yr
"""


def q_summap_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap`` parity: per event type, a key-aligned map
    aggregation over the JSON props key (bucketed k%10) summing exact
    value-cents per bucket — emitted as the sorted ``keys_csv`` /
    ``sums_csv`` array pair (sumMap's return shape) so both engines
    hash the same canonical strings. Two shuffles: the (type, bucket)
    partial sum (map-side combinable, ≤ 10·|types| rows out), then the
    per-type array fold — the AggregatingMergeTree rollup shape."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.get_json_object("props", "$.k").cast("long") % 10).alias("bucket")
    cents = F.round(F.col("value") * 100).cast("bigint")
    partial = (
        ev.groupBy("event_type", bucket)
        .agg(F.sum(cents).alias("s"), F.count("*").cast("bigint").alias("n"))
    )
    folded = (
        partial.groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("bucket", "s", "n"))
            ).alias("kv")
        )
        .select(
            "event_type",
            F.concat_ws(",", F.transform("kv", lambda x: x["bucket"])).alias("keys_csv"),
            F.concat_ws(",", F.transform("kv", lambda x: x["s"])).alias("sums_csv"),
            F.concat_ws(",", F.transform("kv", lambda x: x["n"])).alias("counts_csv"),
        )
    )
    return folded.orderBy("event_type")


_SUMMAP_SQL = """
WITH partial AS (
  SELECT event_type,
    CAST(props->>'$.k' AS BIGINT) % 10 AS bucket,
    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type,
  array_to_string(list(bucket ORDER BY bucket), ',') AS keys_csv,
  array_to_string(list(s ORDER BY bucket), ',') AS sums_csv,
  array_to_string(list(n ORDER BY bucket), ',') AS counts_csv
FROM partial GROUP BY event_type ORDER BY event_type
"""


def q_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test (ClickHouse ``welchTTest`` parity) on
    order value between every market-segment pair: per (seg_a, seg_b),
    the t statistic and Welch–Satterthwaite degrees of freedom. Moments
    come from one exact-decimal pass per segment (n, Σcents, Σcents² in
    decimal — bit-identical doubles on both engines); the pair stage is
    a self-join over the 5-row moment table, so the expensive part is
    one fact-table aggregation regardless of scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"), cents.alias("x"))
        .groupBy("seg")
        .agg(
            F.count("*").alias("n"),
            F.sum(d19(F.col("x"))).cast("double").alias("sx"),
            F.sum(d19(F.col("x")) * d19(F.col("x"))).cast("double").alias("sxx"),
        )
        .select(
            "seg", "n",
            (F.col("sx") / F.col("n") / 100).alias("mean"),
            ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
             / (F.col("n") - 1) / 10000).alias("var"),
        )
        # the 5-row moment table feeds BOTH sides of the pair join;
        # the cut stops the fact aggregation from being derived twice
        .localCheckpoint(eager=True)
    )
    a, b = m.alias("a"), m.alias("b")
    va_n = F.col("a.var") / F.col("a.n")
    vb_n = F.col("b.var") / F.col("b.n")
    t = (F.col("a.mean") - F.col("b.mean")) / F.sqrt(va_n + vb_n)
    df = (va_n + vb_n) * (va_n + vb_n) / (
        va_n * va_n / (F.col("a.n") - 1) + vb_n * vb_n / (F.col("b.n") - 1)
    )
    return (
        a.join(F.broadcast(b), F.col("a.seg") < F.col("b.seg"))
        .select(
            F.col("a.seg").alias("seg_a"),
            F.col("b.seg").alias("seg_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(t, 6).alias("t_stat"),
            F.round(df, 3).alias("welch_df"),
        )
        .orderBy("seg_a", "seg_b")
    )


_WELCH_SQL = """
WITH m AS (
  SELECT c_mktsegment AS seg, COUNT(*) AS n,
    CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
          AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0))
           * CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(19,0)))
         AS DOUBLE) AS sxx
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1),
mm AS (
  SELECT seg, n, sx / n / 100 AS mean,
    (sxx - sx * sx / n) / (n - 1) / 10000 AS var
  FROM m)
SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b,
  ROUND((a.mean - b.mean) / SQRT(a.var / a.n + b.var / b.n), 6) AS t_stat,
  ROUND(POW(a.var / a.n + b.var / b.n, 2)
        / (POW(a.var / a.n, 2) / (a.n - 1)
           + POW(b.var / b.n, 2) / (b.n - 1)), 3) AS welch_df
FROM mm a JOIN mm b ON a.seg < b.seg
ORDER BY seg_a, seg_b
"""


def q_m4_downsample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014 — the visualization-
    grade reducer ClickHouse ships as ``largestTriangleThreeBuckets``'s
    parallel cousin): the daily revenue series reduced to 25 buckets,
    each emitting first/last/min/max with their dates — the four pixels
    a line chart actually needs. Unlike LTTB there is NO sequential
    dependency, so every bucket folds map-side: one tiny window for the
    row index, one aggregation. Exact cents throughout."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    idx = (
        daily.select(
            "d", "cents",
            (F.row_number().over(Window.orderBy("d")) - 1).alias("i"),
        )
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .withColumn("bucket", F.expr("int(i * 25 div n)"))
    )
    return (
        idx.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.min_by("d", "i").alias("d_first"),
            F.min_by("cents", "i").alias("v_first"),
            F.max_by("d", "i").alias("d_last"),
            F.max_by("cents", "i").alias("v_last"),
            F.min("cents").alias("v_min"),
            F.max("cents").alias("v_max"),
        )
        .orderBy("bucket")
    )


_M4_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT d, cents,
    ROW_NUMBER() OVER (ORDER BY d) - 1 AS i,
    COUNT(*) OVER () AS n
  FROM daily)
SELECT CAST(i * 25 // n AS INT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_days,
  arg_min(d, i) AS d_first, arg_min(cents, i) AS v_first,
  arg_max(d, i) AS d_last, arg_max(cents, i) AS v_last,
  MIN(cents) AS v_min, MAX(cents) AS v_max
FROM idx GROUP BY 1 ORDER BY bucket
"""


def q_target_encode_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding — the feature-engineering staple:
    each customer's nation encoded as the LEAVE-ONE-OUT mean account
    balance of the nation's *other* customers, (Σ − x)/(n − 1) in exact
    cents so the exclusion is bit-reproducible. One customer-grain
    aggregation broadcast back over the fact — no per-row subqueries,
    no fold loop; the encoding table is |nations| rows. Reports the 50
    customers whose own balance diverges most from their nation prior
    (the outlier-screening read of the encoding)."""
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    per = c.select("c_custkey", "c_nationkey", cents.alias("x"))
    nat = per.groupBy("c_nationkey").agg(
        F.sum("x").alias("sx"), F.count("*").alias("n")
    )
    return (
        per.join(F.broadcast(nat), "c_nationkey")
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("x") / 100.0, 2).alias("acctbal"),
            F.round(
                (F.col("sx") - F.col("x")) / (F.col("n") - 1) / 100.0, 6
            ).alias("loo_encoding"),
        )
        .withColumn(
            "abs_gap_cents",
            F.abs(
                F.round(F.col("acctbal") * 100).cast("bigint")
                - F.round(F.col("loo_encoding") * 100).cast("bigint")
            ),
        )
        .orderBy(F.desc("abs_gap_cents"), "c_custkey")
        .limit(50)
    )


_TARGET_ENC_SQL = """
WITH per AS (
  SELECT c_custkey, c_nationkey,
    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x
  FROM customer),
nat AS (
  SELECT c_nationkey, SUM(x) AS sx, COUNT(*) AS n
  FROM per GROUP BY 1)
SELECT c_custkey, per.c_nationkey,
  ROUND(x / 100.0, 2) AS acctbal,
  ROUND((sx - x) / (n - 1) / 100.0, 6) AS loo_encoding,
  ABS(CAST(ROUND(ROUND(x / 100.0, 2) * 100) AS BIGINT)
      - CAST(ROUND(ROUND((sx - x) / (n - 1) / 100.0, 6) * 100) AS BIGINT))
    AS abs_gap_cents
FROM per JOIN nat ON per.c_nationkey = nat.c_nationkey
ORDER BY abs_gap_cents DESC, c_custkey LIMIT 50
"""


def q_vocab_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-30 corpus vocabulary
    (count desc, token asc — fully deterministic), then report per
    source shard the total tokens, out-of-vocabulary tokens, and OOV
    ppm — the go/no-go stat before committing a tokenizer to a corpus.
    The vocab is a tiny aggregate broadcast into an array-contains
    filter, so the second pass stays row-local; both passes are
    codegen'd array expressions."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .count()
        .orderBy(F.desc("count"), "tok")
        .limit(30)
        .select("tok")
    )
    per = (
        toks.join(F.broadcast(vocab).withColumn("in_v", F.lit(1)), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("tokens_total"),
            F.sum((F.col("in_v").isNull()).cast("int")).cast("bigint").alias("tokens_oov"),
        )
        .withColumn(
            "oov_ppm",
            F.expr("tokens_oov * 1000000 div tokens_total").cast("bigint"),
        )
    )
    return per.orderBy("source")


_VOCAB_COV_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents),
vocab AS (
  SELECT tok FROM toks GROUP BY tok
  ORDER BY COUNT(*) DESC, tok LIMIT 30)
SELECT source, CAST(COUNT(*) AS BIGINT) AS tokens_total,
  CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)
       AS BIGINT) AS tokens_oov,
  CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)
       * 1000000 // COUNT(*) AS BIGINT) AS oov_ppm
FROM toks GROUP BY source ORDER BY source
"""


def q_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association measures (ClickHouse ``cramersV`` /
    ``theilsU`` parity) between market segment and order priority:
    chi², Cramér's V, and BOTH asymmetric Theil's U coefficients from
    one contingency pass. The fact table is touched once (25-cell
    groupBy); every derived statistic is window arithmetic over that
    tiny frame. Entropies use natural log on integer counts — both
    engines agree at the 6-digit rounding all entropy queries here
    share."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").alias("nij"))
    )
    w_all = Window.partitionBy()
    t = (
        cells.withColumn("n", F.sum("nij").over(w_all))
        .withColumn("ri", F.sum("nij").over(Window.partitionBy("seg")))
        .withColumn("cj", F.sum("nij").over(Window.partitionBy("prio")))
    )
    nij, n, ri, cj = (F.col(x).cast("double") for x in ("nij", "n", "ri", "cj"))
    chi2_cell = (nij - ri * cj / n) * (nij - ri * cj / n) / (ri * cj / n)
    # H(X,Y), H(X), H(Y) terms; p log p summed over the 25 cells
    h_xy = -(nij / n) * F.log(nij / n)
    h_x_term = -(nij / n) * F.log(ri / n)   # sums to H(seg)
    h_y_term = -(nij / n) * F.log(cj / n)   # sums to H(prio)
    agg = t.agg(
        F.first("n").alias("n_orders"),
        F.countDistinct("seg").alias("r"),
        F.countDistinct("prio").alias("c"),
        F.sum(chi2_cell).alias("chi2"),
        F.sum(h_xy).alias("hxy"),
        F.sum(h_x_term).alias("hx"),
        F.sum(h_y_term).alias("hy"),
    )
    return agg.select(
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n_orders") * (F.least("r", "c") - 1))),
            6,
        ).alias("cramers_v"),
        # U(seg|prio) = (H(seg) - H(seg|prio)) / H(seg); H(seg|prio)=H(X,Y)-H(Y)
        F.round(
            (F.col("hx") - (F.col("hxy") - F.col("hy"))) / F.col("hx"), 6
        ).alias("theils_u_seg"),
        F.round(
            (F.col("hy") - (F.col("hxy") - F.col("hx"))) / F.col("hy"), 6
        ).alias("theils_u_prio"),
    )


_CRAMERS_SQL = """
WITH cells AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
    COUNT(*) AS nij
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
t AS (
  SELECT nij,
    CAST(SUM(nij) OVER () AS DOUBLE) AS n,
    CAST(SUM(nij) OVER (PARTITION BY seg) AS DOUBLE) AS ri,
    CAST(SUM(nij) OVER (PARTITION BY prio) AS DOUBLE) AS cj,
    seg, prio
  FROM cells),
agg AS (
  SELECT ANY_VALUE(n) AS n_orders,
    COUNT(DISTINCT seg) AS r, COUNT(DISTINCT prio) AS c,
    SUM((CAST(nij AS DOUBLE) - ri * cj / n) * (CAST(nij AS DOUBLE) - ri * cj / n)
        / (ri * cj / n)) AS chi2,
    SUM(-(CAST(nij AS DOUBLE) / n) * LN(CAST(nij AS DOUBLE) / n)) AS hxy,
    SUM(-(CAST(nij AS DOUBLE) / n) * LN(ri / n)) AS hx,
    SUM(-(CAST(nij AS DOUBLE) / n) * LN(cj / n)) AS hy
  FROM t)
SELECT CAST(n_orders AS BIGINT) AS n_orders,
  ROUND(chi2, 6) AS chi2,
  ROUND(SQRT(chi2 / (n_orders * (LEAST(r, c) - 1))), 6) AS cramers_v,
  ROUND((hx - (hxy - hy)) / hx, 6) AS theils_u_seg,
  ROUND((hy - (hxy - hx)) / hy, 6) AS theils_u_prio
FROM agg
"""


def q_bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra (ClickHouse ``groupBitmapAnd/Or/Xor``
    parity): for every event-type pair, the exact user-set
    intersection, union, symmetric difference, and Jaccard ppm. One
    user-grain dedup pass builds (user, type) once; the pair stage
    works on per-type membership counts from a user-level type bitmap
    (collect_set ≤ 5 types/user), so no user-level self-join ever
    happens — the shuffle is one row per distinct (user, type-set)."""
    ev = _t(spark, sf_dir, "events")
    types = ev.select("event_type").distinct()
    per_user = (
        ev.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("ts"))
    )
    a, b = types.alias("a"), types.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
    )
    # per user×pair membership without exploding users: broadcast the
    # ≤ C(5,2)=10 pairs over the user frame, test set membership row-local
    m = per_user.crossJoin(F.broadcast(pairs)).select(
        "type_a", "type_b",
        F.array_contains("ts", F.col("type_a")).cast("int").alias("in_a"),
        F.array_contains("ts", F.col("type_b")).cast("int").alias("in_b"),
    )
    return (
        m.groupBy("type_a", "type_b")
        .agg(
            F.sum(F.col("in_a")).cast("bigint").alias("n_a"),
            F.sum(F.col("in_b")).cast("bigint").alias("n_b"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_and"),
            F.sum(F.greatest("in_a", "in_b")).cast("bigint").alias("n_or"),
            F.sum(
                (F.col("in_a") + F.col("in_b") == 1).cast("int")
            ).cast("bigint").alias("n_xor"),
        )
        .withColumn("jaccard_ppm", F.expr("n_and * 1000000 div n_or").cast("bigint"))
        .orderBy("type_a", "type_b")
    )


_BITMAP_SQL = """
WITH per_user AS (
  SELECT user_id, list(DISTINCT event_type) AS ts FROM events GROUP BY 1),
types AS (SELECT DISTINCT event_type FROM events),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type),
m AS (
  SELECT type_a, type_b,
    CASE WHEN list_contains(ts, type_a) THEN 1 ELSE 0 END AS in_a,
    CASE WHEN list_contains(ts, type_b) THEN 1 ELSE 0 END AS in_b
  FROM per_user CROSS JOIN pairs)
SELECT type_a, type_b,
  CAST(SUM(in_a) AS BIGINT) AS n_a,
  CAST(SUM(in_b) AS BIGINT) AS n_b,
  CAST(SUM(in_a * in_b) AS BIGINT) AS n_and,
  CAST(SUM(GREATEST(in_a, in_b)) AS BIGINT) AS n_or,
  CAST(SUM(CASE WHEN in_a + in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_xor,
  CAST(SUM(in_a * in_b) * 1000000 // SUM(GREATEST(in_a, in_b)) AS BIGINT)
    AS jaccard_ppm
FROM m GROUP BY 1, 2 ORDER BY type_a, type_b
"""


def q_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction for training: documents ranked by the
    quality score (stopword share minus non-alnum noise, the text_quality
    recipe), cut into 5 NTILE phases (highest quality = phase 1, fed
    first), each phase reporting docs, token budget, cumulative tokens,
    and the quality-score range — the schedule a curriculum loader
    consumes. Scoring is row-local; the ntile is the DISTRIBUTED one
    (operators/ranking.global_ntile: range-partitioned sort + broadcast
    partition offsets + SQL-exact tile arithmetic — never a
    single-partition WindowExec), then a 5-key fold."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    n_toks = F.size(toks)
    stop_share = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
        / F.greatest(n_toks, F.lit(1))
    )
    noise = (
        F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", ""))
        / F.greatest(F.length("text"), F.lit(1))
    )
    scored = docs.select(
        "doc_id",
        n_toks.alias("n_toks"),
        F.round(stop_share - noise, 9).alias("q_score"),
    )
    phased = RK.global_ntile(
        scored, [F.desc("q_score"), "doc_id"], 5, col_name="phase"
    )
    # phase ∈ 1..5 by NTILE construction — global_ntile's pmod identity
    # clamp makes that domain visible to the plan census, so the 5-row
    # aggregate below provably bounds the cumulative window above it
    per = (
        phased.groupBy("phase")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("tokens"),
            F.round(F.min("q_score"), 9).alias("q_min"),
            F.round(F.max("q_score"), 9).alias("q_max"),
        )
    )
    w_cum = Window.orderBy("phase").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.withColumn("tokens_cum", F.sum("tokens").over(w_cum).cast("bigint"))
        .orderBy("phase")
    )


_CURRICULUM_SQL = f"""
WITH scored AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n_toks,
    ROUND(
      len(list_filter({_TOKS_SQL},
        t -> t IN ({",".join(repr(w) for w in STOPWORDS["en"])})))
        / greatest(len({_TOKS_SQL}), 1)
      - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        / greatest(length(text), 1), 9) AS q_score
  FROM documents),
phased AS (
  SELECT *, NTILE(5) OVER (ORDER BY q_score DESC, doc_id) AS phase
  FROM scored),
per AS (
  SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_toks) AS BIGINT) AS tokens,
    ROUND(MIN(q_score), 9) AS q_min, ROUND(MAX(q_score), 9) AS q_max
  FROM phased GROUP BY phase)
SELECT phase, n_docs, tokens, q_min, q_max,
  CAST(SUM(tokens) OVER (ORDER BY phase
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tokens_cum
FROM per ORDER BY phase
"""


# Shared polynomial-cos great-circle recipe: cos(z) via an even Taylor
# polynomial in EXACT textual form — double +,*,/ are IEEE-determined, so
# evaluating the SAME expression string in Spark (selectExpr) and DuckDB
# yields bit-identical doubles, sidestepping cross-libm cos() drift.
_COS_POLY = (
    "(1.0 - {z2}/2.0 + {z2}*{z2}/24.0 - {z2}*{z2}*{z2}/720.0"
    " + {z2}*{z2}*{z2}*{z2}/40320.0"
    " - {z2}*{z2}*{z2}*{z2}*{z2}/3628800.0)"
)
_GEO_RAD = "(({d}) * 3.141592653589793 / 180.0)"


def _geo_dist_expr(lat_a: str, lon_a: str, lat_b: str, lon_b: str) -> str:
    """Equirectangular distance in km over the shared polynomial cos —
    one expression string consumed verbatim by both engines."""
    mlat = f"(({_GEO_RAD.format(d=lat_a)} + {_GEO_RAD.format(d=lat_b)}) / 2.0)"
    z2 = f"({mlat} * {mlat})"
    cosm = _COS_POLY.format(z2=z2)
    x = f"(({_GEO_RAD.format(d=lon_b)} - {_GEO_RAD.format(d=lon_a)}) * {cosm})"
    y = f"({_GEO_RAD.format(d=lat_b)} - {_GEO_RAD.format(d=lat_a)})"
    return f"ROUND(6371.0 * SQRT({x}*{x} + {y}*{y}), 3)"


def q_geo_nation_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-distance surface (ClickHouse ``greatCircleDistance`` family):
    each nation gets a deterministic synthetic coordinate (an affine map
    of its key — the fixture has no geo columns, so the coordinates ARE
    the contract), and the query reports the 20 closest nation pairs by
    equirectangular distance. The trig is a shared polynomial-cos
    expression string evaluated textually by BOTH engines (bit-identical
    doubles — the multivar_ols trick applied to geo). 25 nations → 300
    broadcast pairs; at scale this is the geo-join shape where one side
    is a broadcast dimension."""
    n = _t(spark, sf_dir, "nation")
    # CAST to DOUBLE: both Spark and DuckDB parse these dotted literals
    # as DECIMAL, and decimal-scale truncation in the radian conversion
    # diverges between engines — the whole pipeline must run in ieee754
    geo = n.selectExpr(
        "n_nationkey", "n_name",
        "CAST(-60.0 + n_nationkey * 5.0 AS DOUBLE) AS lat",
        "CAST(-170.0 + n_nationkey * 13.0 AS DOUBLE) AS lon",
    )
    a, b = geo.alias("a"), geo.alias("b")
    dist = _geo_dist_expr("a.lat", "a.lon", "b.lat", "b.lon")
    return (
        a.join(F.broadcast(b), F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .selectExpr(
            "a.n_name AS nation_a",
            "b.n_name AS nation_b",
            f"{dist} AS dist_km",
        )
        .orderBy("dist_km", "nation_a", "nation_b")
        .limit(20)
    )


_GEO_SQL = f"""
WITH geo AS (
  SELECT n_nationkey, n_name,
    CAST(-60.0 + n_nationkey * 5.0 AS DOUBLE) AS lat,
    CAST(-170.0 + n_nationkey * 13.0 AS DOUBLE) AS lon
  FROM nation)
SELECT a.n_name AS nation_a, b.n_name AS nation_b,
  {_geo_dist_expr("a.lat", "a.lon", "b.lat", "b.lon")} AS dist_km
FROM geo a JOIN geo b ON a.n_nationkey < b.n_nationkey
ORDER BY dist_km, nation_a, nation_b LIMIT 20
"""


def q_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information value (ClickHouse
    ``categoricalInformationValue`` parity — the credit-scoring feature
    screen): market segment as the categorical feature, "order has a
    returned line item" as the binary target. Per segment: good/bad
    counts, WOE = ln((good/Σgood)/(bad/Σbad)), the IV contribution, and
    the feature-level IV total. One semi-join flags returned orders,
    one 5-key aggregation, then window arithmetic on the tiny frame."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
    )
    flagged = (
        o.join(returned.withColumn("is_bad", F.lit(1)), "o_orderkey", "left")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.coalesce("is_bad", F.lit(0)).alias("bad"),
        )
    )
    per = flagged.groupBy("seg").agg(
        F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
        F.sum("bad").cast("bigint").alias("n_bad"),
    )
    w = Window.partitionBy()
    t = per.withColumn("tg", F.sum("n_good").over(w)).withColumn(
        "tb", F.sum("n_bad").over(w)
    )
    pg = F.col("n_good").cast("double") / F.col("tg")
    pb = F.col("n_bad").cast("double") / F.col("tb")
    woe = F.log(pg / pb)
    return (
        t.select(
            "seg", "n_good", "n_bad",
            F.round(woe, 6).alias("woe"),
            F.round((pg - pb) * woe, 6).alias("iv_part"),
            F.round(F.sum((pg - pb) * woe).over(w), 6).alias("iv_total"),
        )
        .orderBy("seg")
    )


_WOE_SQL = """
WITH returned AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
flagged AS (
  SELECT c_mktsegment AS seg,
    CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS bad
  FROM orders
  LEFT JOIN returned r ON o_orderkey = r.l_orderkey
  JOIN customer ON o_custkey = c_custkey),
per AS (
  SELECT seg, CAST(SUM(1 - bad) AS BIGINT) AS n_good,
    CAST(SUM(bad) AS BIGINT) AS n_bad
  FROM flagged GROUP BY seg),
t AS (
  SELECT *, SUM(n_good) OVER () AS tg, SUM(n_bad) OVER () AS tb FROM per)
SELECT seg, n_good, n_bad,
  ROUND(LN((CAST(n_good AS DOUBLE) / tg) / (CAST(n_bad AS DOUBLE) / tb)), 6)
    AS woe,
  ROUND((CAST(n_good AS DOUBLE) / tg - CAST(n_bad AS DOUBLE) / tb)
        * LN((CAST(n_good AS DOUBLE) / tg) / (CAST(n_bad AS DOUBLE) / tb)), 6)
    AS iv_part,
  ROUND(SUM((CAST(n_good AS DOUBLE) / tg - CAST(n_bad AS DOUBLE) / tb)
        * LN((CAST(n_good AS DOUBLE) / tg) / (CAST(n_bad AS DOUBLE) / tb)))
        OVER (), 6) AS iv_total
FROM t ORDER BY seg
"""


def q_sequence_count_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1).*(?2)')`` parity: per user, the
    number of NON-OVERLAPPING view→purchase chains (greedy matching, the
    engine's semantics), reported as a distribution (users per chain
    count). The greedy recurrence m_j = min(m_{j-1}+1, views_before_j)
    unrolls to m = n_purchases + min_j(views_before_j − j) — pure
    window arithmetic, NO per-user iteration, no UDF: one sort-shuffle
    on user_id regardless of scale."""
    ev = _t(spark, sf_dir, "events")
    typed = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "view").cast("int").alias("is_v"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_before = w_seq.rowsBetween(Window.unboundedPreceding, -1)
    marked = (
        typed.withColumn("views_before", F.coalesce(F.sum("is_v").over(w_before), F.lit(0)))
        .withColumn("p_rank", F.sum("is_p").over(w_seq))
        .filter(F.col("is_p") == 1)
    )
    per_user = marked.groupBy("user_id").agg(
        F.max("p_rank").alias("n_p"),
        F.min(F.col("views_before") - F.col("p_rank")).alias("slack"),
    )
    # m_n = min(n, min_j(A_j + n − j)) — the slack only ever SUBTRACTS
    # (cap at n_p when views are plentiful), hence least(slack, 0)
    chains = per_user.select(
        "user_id",
        (F.col("n_p") + F.least(F.col("slack"), F.lit(0))).alias("n_chains"),
    )
    return (
        chains.groupBy("n_chains")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("n_chains")
    )


_SEQ_COUNT_SQL = """
WITH typed AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('view', 'purchase')),
marked AS (
  SELECT user_id,
    COALESCE(SUM(is_v) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS views_before,
    SUM(is_p) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_rank,
    is_p
  FROM typed),
per_user AS (
  SELECT user_id, MAX(p_rank) AS n_p,
    MIN(views_before - p_rank) AS slack
  FROM marked WHERE is_p = 1 GROUP BY user_id)
SELECT CAST(n_p + LEAST(slack, 0) AS BIGINT) AS n_chains,
  CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user GROUP BY 1 ORDER BY n_chains
"""


def q_roc_auc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC via the tie-corrected rank-sum identity (the exact
    distributed AUC — no threshold sweep): score = first embedding
    component rounded to 6dp (the fixture vectors are unit-normalized,
    so the L2 norm is constant — a projection is the honest scalar
    probe), positive class = label ≥ 5. The rank side is DISTRIBUTED:
    a per-(score) aggregate folds counts + positive counts, a global
    row_number from operators/ranking (range-partitioned, broadcast
    offsets — no single-partition window) gives each row a rank, and
    min(rn) per score group recovers RANK() exactly; the tie-corrected
    doubled average rank 2·ar = 2·rank + tie_cnt − 1 stays integral, so
    the rank-sum matches the oracle's half-integer double sum bit-for-bit
    (every term < 2^53 is exactly representable)."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.col("embedding").getItem(0).cast("double"), 6).alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
        F.col("vec_id"),
    )
    # vec_id tie-break: irrelevant to min(rn)-per-score (RANK is
    # tie-insensitive) but lets the ranged shuffle SPLIT tied scores
    # across partitions — without it a heavily-tied score column would
    # collapse back to few tasks (see ranking.global_row_number docstring)
    rn = RK.global_row_number(scored, ["score", "vec_id"], col_name="rn")
    per_score = rn.groupBy("score").agg(
        F.min("rn").alias("rnk"),
        F.count("*").alias("cnt"),
        F.sum("pos").alias("posc"),
    )
    # Σ over positive rows of 2·avg_rank, exact integer arithmetic —
    # factors cast to decimal BEFORE multiplying: posc·(2·rnk+cnt−1) is
    # O(n²) and would silently wrap past 2^63 in bigint at large scale
    rs2 = F.sum(
        F.col("posc").cast("decimal(38,0)")
        * (2 * F.col("rnk") + F.col("cnt") - 1).cast("decimal(38,0)")
    )
    agg = per_score.agg(
        F.sum("posc").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("posc")).alias("n_neg"),
        rs2.alias("rs2"),
    )
    return agg.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("rs2").cast("double") / 2.0
             - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


_ROC_AUC_SQL = """
WITH scored AS (
  SELECT round(embedding[1]::DOUBLE, 6) AS score,
    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings),
r AS (
  SELECT pos,
    RANK() OVER (ORDER BY score)
      + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS ar
  FROM scored),
agg AS (
  SELECT SUM(pos) AS n_pos, SUM(1 - pos) AS n_neg,
    SUM(CASE WHEN pos = 1 THEN ar END) AS rank_sum_pos
  FROM r)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
  ROUND((rank_sum_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
FROM agg
"""


def q_ab_cuped_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et al.
    WSDM'13 — the industry-standard sensitivity boost): users split into
    arms by id parity at 2024-01-16; Y = post-period value, X =
    pre-period value (the covariate), θ = cov(X,Y)/var(X) POOLED, and
    the adjusted metric Yᶜ = Y − θ(X − X̄). Reports per-arm means, the
    raw and CUPED diffs, θ, and the achieved variance-reduction ppm.
    One user-grain aggregation; every moment is an exact-cents decimal
    power sum folded map-side — the scalar stage is a broadcast of one
    row."""
    ev = _t(spark, sf_dir, "events")
    t0 = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < t0, cents).otherwise(F.lit(0))).alias("xc"),
            F.sum(F.when(F.col("ts") >= t0, cents).otherwise(F.lit(0))).alias("yc"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"),
            F.col("xc"), F.col("yc"),
        )
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    moments = per_user.agg(
        F.count("*").alias("n"),
        F.sum(d19(F.col("xc"))).cast("double").alias("sx"),
        F.sum(d19(F.col("yc"))).cast("double").alias("sy"),
        F.sum(d19(F.col("xc")) * d19(F.col("xc"))).cast("double").alias("sxx"),
        F.sum(d19(F.col("xc")) * d19(F.col("yc"))).cast("double").alias("sxy"),
    ).select(
        (F.col("sx") / F.col("n")).alias("mx"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
         / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(moments)).select(
        "arm",
        F.col("yc").cast("double").alias("y"),
        (F.col("yc").cast("double")
         - F.col("theta") * (F.col("xc").cast("double") - F.col("mx"))).alias("ya"),
        "theta",
    )
    # arm = user_id % 2 ∈ {0, 1}, so arms is 2 rows — checkpointed, and
    # the pooled variances are a 1-row broadcast aggregate over it instead
    # of a global window (no single-partition exchange, and the per_user
    # pipeline runs exactly once)
    arms = adj.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.avg("y").alias("my"),
        F.avg("ya").alias("mya"),
        F.var_samp("y").alias("vy"),
        F.var_samp("ya").alias("vya"),
        F.first("theta").alias("theta"),
    ).localCheckpoint(eager=True)
    pooled = arms.agg(
        (
            F.sum(F.col("vy") * (F.col("n") - 1)) / F.sum(F.col("n") - 1)
        ).alias("pv"),
        (
            F.sum(F.col("vya") * (F.col("n") - 1)) / F.sum(F.col("n") - 1)
        ).alias("pva"),
    )
    return (
        arms.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            F.col("n").cast("bigint").alias("n_users"),
            F.round(F.col("my") / 100, 6).alias("mean_value"),
            F.round(F.col("mya") / 100, 6).alias("mean_cuped"),
            F.round(F.col("theta"), 6).alias("theta"),
            F.round((F.lit(1.0) - F.col("pva") / F.col("pv")) * 1e6, 0)
            .cast("bigint").alias("var_reduction_ppm"),
        )
        .orderBy("arm")
    )


_AB_CUPED_SQL = """
WITH per_user AS (
  SELECT CAST(user_id % 2 AS INT) AS arm,
    SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS xc,
    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
        THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS yc
  FROM events GROUP BY user_id),
m AS (
  SELECT CAST(SUM(CAST(xc AS DECIMAL(19,0))) AS DOUBLE) / COUNT(*) AS mx,
    (CAST(SUM(CAST(xc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0))) AS DOUBLE)
     - CAST(SUM(CAST(xc AS DECIMAL(19,0))) AS DOUBLE)
       * CAST(SUM(CAST(yc AS DECIMAL(19,0))) AS DOUBLE) / COUNT(*))
    / (CAST(SUM(CAST(xc AS DECIMAL(19,0)) * CAST(xc AS DECIMAL(19,0))) AS DOUBLE)
     - CAST(SUM(CAST(xc AS DECIMAL(19,0))) AS DOUBLE)
       * CAST(SUM(CAST(xc AS DECIMAL(19,0))) AS DOUBLE) / COUNT(*)) AS theta
  FROM per_user),
adj AS (
  SELECT arm, CAST(yc AS DOUBLE) AS y,
    CAST(yc AS DOUBLE) - theta * (CAST(xc AS DOUBLE) - mx) AS ya, theta
  FROM per_user CROSS JOIN m),
arms AS (
  SELECT arm, COUNT(*) AS n, AVG(y) AS my, AVG(ya) AS mya,
    VAR_SAMP(y) AS vy, VAR_SAMP(ya) AS vya, ANY_VALUE(theta) AS theta
  FROM adj GROUP BY arm)
SELECT arm, CAST(n AS BIGINT) AS n_users,
  ROUND(my / 100, 6) AS mean_value,
  ROUND(mya / 100, 6) AS mean_cuped,
  ROUND(theta, 6) AS theta,
  CAST(ROUND((1.0 - (SUM(vya * (n - 1)) OVER () / SUM(n - 1) OVER ())
       / (SUM(vy * (n - 1)) OVER () / SUM(n - 1) OVER ())) * 1e6, 0) AS BIGINT)
    AS var_reduction_ppm
FROM arms ORDER BY arm
"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram for the norm-score classifier
    behind roc_auc_embeddings: scores min-max-normalized to [0,1], cut
    into 10 equal-width probability bins; per bin the support, mean
    predicted score, observed positive rate (exact ppm), and the
    |pred − obs| gap that sums to ECE. Min/max come from one tiny
    aggregate broadcast back — two passes over a vector table, zero
    joins beyond the scalar broadcast. Score = first embedding
    component (unit-normalized fixture vectors make the norm
    constant)."""
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.col("embedding").getItem(0).cast("double"), 6).alias("s"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    rng = scored.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    binned = scored.crossJoin(F.broadcast(rng)).select(
        "pos",
        F.least(
            F.floor((F.col("s") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 10)
            .cast("int"),
            F.lit(9),
        ).alias("bin"),
        ((F.col("s") - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias("p"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("p"), 6).alias("mean_pred"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
        .withColumn("obs_ppm", F.expr("n_pos * 1000000 div n").cast("bigint"))
        .withColumn(
            "gap_ppm",
            F.abs(
                F.round(F.col("mean_pred") * 1e6, 0).cast("bigint") - F.col("obs_ppm")
            ),
        )
        .orderBy("bin")
    )


_CALIBRATION_SQL = """
WITH scored AS (
  SELECT round(embedding[1]::DOUBLE, 6) AS s,
    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings),
rng AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
binned AS (
  SELECT pos,
    LEAST(CAST(FLOOR((s - lo) / (hi - lo) * 10) AS INT), 9) AS bin,
    (s - lo) / (hi - lo) AS p
  FROM scored CROSS JOIN rng)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(AVG(p), 6) AS mean_pred,
  CAST(SUM(pos) AS BIGINT) AS n_pos,
  CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS obs_ppm,
  ABS(CAST(ROUND(ROUND(AVG(p), 6) * 1e6, 0) AS BIGINT)
      - CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT)) AS gap_ppm
FROM binned GROUP BY bin ORDER BY bin
"""


def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) per
    language — the multilingual-cost report every tokenizer eval leads
    with: high fertility = a language pays more compute per word. Both
    token counts are row-local regex folds (codegen), one 5-key
    aggregation; fertility in exact ppm."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    per = docs.select(
        "lang",
        TX.bpe_token_count(t).alias("bpe"),
        TX.token_count(t).alias("ws"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("bpe").cast("bigint").alias("bpe_tokens"),
            F.sum("ws").cast("bigint").alias("ws_tokens"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr("bpe_tokens * 1000000 div ws_tokens").cast("bigint"),
        )
        .orderBy("lang")
    )


_FERTILITY_SQL = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(regexp_extract_all(lower(text),
    '{TX.BPE_SPLIT_RE.replace(chr(39), chr(39) * 2)}'))) AS BIGINT) AS bpe_tokens,
  CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(lower(text),
    '{TX.BPE_SPLIT_RE.replace(chr(39), chr(39) * 2)}'))) * 1000000
    // SUM(len({_TOKS_SQL})) AS BIGINT) AS fertility_ppm
FROM documents GROUP BY lang ORDER BY lang
"""


def q_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis (ClickHouse ``minSampleSizeConversion``
    parity): from the observed signup→purchase conversion baseline,
    the per-arm sample size needed to detect a −5% relative drop at
    α=0.05 (two-sided) / 80% power, plus how many users the fixture
    actually has. (A drop keeps the target rate inside (0,1) even when
    the observed baseline saturates near 1.) z-quantiles are double
    literals, so the whole formula is IEEE-identical across engines.
    One user-grain aggregation."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    base = per_user.agg(
        F.count("*").alias("n_users"), F.sum("conv").alias("n_conv")
    )
    p1 = F.col("n_conv").cast("double") / F.col("n_users")
    p2 = p1 * 0.95
    pbar = (p1 + p2) / 2.0
    za, zb = 1.9599639845400545, 0.8416212335729143
    n_req = (
        (za * F.sqrt(2.0 * pbar * (1.0 - pbar))
         + zb * F.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
        / (p2 - p1)
    )
    return base.select(
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        F.ceil(n_req * n_req).cast("bigint").alias("n_required_per_arm"),
        (F.ceil(n_req * n_req) * 2 <= F.col("n_users")).alias("is_powered"),
    )


_AB_POWER_SQL = """
WITH per_user AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
base AS (
  SELECT COUNT(*) AS n_users, SUM(conv) AS n_conv FROM per_user),
calc AS (
  SELECT n_users,
    CAST(n_conv AS DOUBLE) / n_users AS p1,
    CAST(n_conv AS DOUBLE) / n_users * 0.95 AS p2
  FROM base)
SELECT CAST(n_users AS BIGINT) AS n_users,
  ROUND(p1, 6) AS baseline_rate,
  ROUND(p2, 6) AS target_rate,
  CAST(CEIL(POW((1.9599639845400545 * SQRT(2.0 * ((p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0))
    + 0.8416212335729143 * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
    / (p2 - p1), 2)) AS BIGINT) AS n_required_per_arm,
  CAST(CEIL(POW((1.9599639845400545 * SQRT(2.0 * ((p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0))
    + 0.8416212335729143 * SQRT(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
    / (p2 - p1), 2)) * 2 <= n_users AS BOOLEAN) AS is_powered
FROM calc
"""


def _parquet_key_bounds(path: str, column: str) -> tuple[int, int] | None:
    """(min, max) of an integer column from the parquet FOOTER statistics
    — the same row-group stats predicate pushdown reads, folded across
    every row group of every file of the dataset in the driver with no
    Spark job. None when the dataset cannot be read or a file lacks the
    column or its statistics (caller falls back to sampling)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mn = mx = None
    try:
        for f in parquet_files(path):
            meta = pq.read_metadata(f)
            idx = {
                meta.schema.column(i).name: i for i in range(meta.num_columns)
            }.get(column)
            if idx is None:
                return None
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
    except (OSError, pa.ArrowInvalid):
        return None
    if mn is None:
        return None
    return int(mn), int(mx)


def q_encoding_advisor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding advisor (the lakehouse ops surface behind
    ClickHouse's column-codec picker): per lineitem column — rows,
    exact distinct count, adjacent-run count in the (orderkey,
    linenumber) physical order, then the dictionary-vs-RLE-vs-plain
    recommendation from distinct-ratio and run-ratio ppm thresholds.
    Run counting is DISTRIBUTED (operators/ranking.partitioned_run_counts):
    partition on the physical order, one vectorized per-partition
    pass counts interior value changes, and partitions stitch at their
    boundaries over a bounded summary frame — exact lag semantics,
    no single-partition window. Distinct counts fold in one aggregation.

    r12 (guide §2.4/§6 — remove the sampler pass): the run pass's
    ``repartitionByRange`` paid a RangePartitioner SAMPLING job — a
    whole extra execution of the projected fact — before the shuffle.
    The physical-order key's min/max come from the parquet FOOTER
    statistics instead (one driver-side pyarrow metadata read, no Spark
    job), and feed partitioned_run_counts' sampler-free ``bucket_by``
    route: rows hash-partition on a bucket that is pure arithmetic on
    the footer bounds, so the fact is read TWICE (distinct agg + run
    shuffle, independent subtrees that overlap in one job) instead of
    three times. Run-pass width stays INPUT-proportional (compressed
    source bytes / SPARK_GRAFT_RUNPASS_MB, default 2 MB — ~6 partitions
    at sf0.1, thousands at cluster scale where 2 MB of zstd parquet is
    tens of MB of shuffled rows; the r11 session-width inherit gave 32
    near-empty partitions whose per-task overhead made the pass SLOWER
    on 32 cores than 8 — PERF_r11 scaling 0.84). Footers without
    l_orderkey statistics fall back to the r11 ranged route unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount",
            "l_suppkey", "l_shipdate"]
    src = f"{sf_dir}/lineitem.parquet"
    bounds = _parquet_key_bounds(src, "l_orderkey")
    if bounds is not None:
        import os as _os

        mn, mx = bounds
        mb = float(_os.environ.get("SPARK_GRAFT_RUNPASS_MB", "2"))
        try:
            src_bytes = sum(_os.path.getsize(f) for f in parquet_files(src))
        except OSError:
            src_bytes = 0
        n_parts = max(4, int(src_bytes / (mb * 1024 * 1024)) + 1)
        # 64 buckets per partition so the hash spreads evenly (guide
        # §2.5); bucket = (key - min) div span is monotone in the order
        # prefix and constant per orderkey group — the bucket_by contract
        span = max(1, (mx - mn) // (64 * n_parts) + 1)
        runs_wide = RK.partitioned_run_counts(
            li, ["l_orderkey", "l_linenumber"], cols,
            num_partitions=n_parts,
            bucket_by=F.expr(f"CAST((l_orderkey - {mn}) DIV {span} AS INT)"),
        )
    else:
        logger.info(
            "encoding_advisor_lineitem: no l_orderkey footer bounds in %s;"
            " falling back to the sampled ranged route", src,
        )
        runs_wide = RK.partitioned_run_counts(
            li, ["l_orderkey", "l_linenumber"], cols
        )
    dist_aggs = [F.count_distinct(F.col(c)).cast("bigint").alias(f"dist_{c}") for c in cols]
    dist_wide = li.agg(*dist_aggs)
    wide = runs_wide.crossJoin(F.broadcast(dist_wide))
    stack = ", ".join(f"'{c}', runs_{c}, dist_{c}" for c in cols)
    long = wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack}) AS (column_name, n_runs, n_distinct)",
    )
    return (
        long.select(
            "column_name", "n_rows", "n_runs", "n_distinct",
            F.expr("n_distinct * 1000000 div n_rows").cast("bigint").alias("distinct_ppm"),
            F.expr("n_runs * 1000000 div n_rows").cast("bigint").alias("run_ppm"),
        )
        .withColumn(
            "recommendation",
            F.when(F.col("run_ppm") < 500000, F.lit("rle"))
            .when(F.col("distinct_ppm") < 10000, F.lit("dict"))
            .otherwise(F.lit("plain")),
        )
        .orderBy("column_name")
    )


_ENCODING_SQL = """
WITH ordered AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem),
chg AS (
  SELECT
    CASE WHEN l_returnflag IS DISTINCT FROM LAG(l_returnflag) OVER w THEN 1 ELSE 0 END AS chg_l_returnflag,
    CASE WHEN l_linestatus IS DISTINCT FROM LAG(l_linestatus) OVER w THEN 1 ELSE 0 END AS chg_l_linestatus,
    CASE WHEN l_quantity IS DISTINCT FROM LAG(l_quantity) OVER w THEN 1 ELSE 0 END AS chg_l_quantity,
    CASE WHEN l_discount IS DISTINCT FROM LAG(l_discount) OVER w THEN 1 ELSE 0 END AS chg_l_discount,
    CASE WHEN l_suppkey IS DISTINCT FROM LAG(l_suppkey) OVER w THEN 1 ELSE 0 END AS chg_l_suppkey,
    CASE WHEN l_shipdate IS DISTINCT FROM LAG(l_shipdate) OVER w THEN 1 ELSE 0 END AS chg_l_shipdate
  FROM ordered WINDOW w AS (ORDER BY l_orderkey, l_linenumber)),
runs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(chg_l_returnflag) AS BIGINT) AS runs_l_returnflag,
    CAST(SUM(chg_l_linestatus) AS BIGINT) AS runs_l_linestatus,
    CAST(SUM(chg_l_quantity) AS BIGINT) AS runs_l_quantity,
    CAST(SUM(chg_l_discount) AS BIGINT) AS runs_l_discount,
    CAST(SUM(chg_l_suppkey) AS BIGINT) AS runs_l_suppkey,
    CAST(SUM(chg_l_shipdate) AS BIGINT) AS runs_l_shipdate
  FROM chg),
dist AS (
  SELECT CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS dist_l_returnflag,
    CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS dist_l_linestatus,
    CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS dist_l_quantity,
    CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS dist_l_discount,
    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS dist_l_suppkey,
    CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS dist_l_shipdate
  FROM lineitem),
long AS (
  SELECT n_rows, col AS column_name, n_runs, n_distinct FROM runs, dist,
  LATERAL (VALUES
    ('l_discount', runs_l_discount, dist_l_discount),
    ('l_linestatus', runs_l_linestatus, dist_l_linestatus),
    ('l_quantity', runs_l_quantity, dist_l_quantity),
    ('l_returnflag', runs_l_returnflag, dist_l_returnflag),
    ('l_shipdate', runs_l_shipdate, dist_l_shipdate),
    ('l_suppkey', runs_l_suppkey, dist_l_suppkey)
  ) AS v(col, n_runs, n_distinct))
SELECT column_name, n_rows, n_runs, n_distinct,
  CAST(n_distinct * 1000000 // n_rows AS BIGINT) AS distinct_ppm,
  CAST(n_runs * 1000000 // n_rows AS BIGINT) AS run_ppm,
  CASE WHEN n_runs * 1000000 // n_rows < 500000 THEN 'rle'
       WHEN n_distinct * 1000000 // n_rows < 10000 THEN 'dict'
       ELSE 'plain' END AS recommendation
FROM long ORDER BY column_name
"""


def q_bootstrap_ci_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bootstrap CI for mean daily revenue: B=200 hash-
    indexed resamples of the day series (resample b picks day
    md5(b·100000+j) mod n for j=1..n — reproducible on any engine, any
    partition order), each resample's exact-cents mean, then the 2.5 %
    / 97.5 % order statistics of the B means. The spine is B·n rows
    joined back to the tiny daily frame by index — at 100 TB the daily
    frame is still a rollup, so the bootstrap costs B tiny passes, not
    B corpus scans."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("j"), "cents"
    ).localCheckpoint(eager=True)
    n = idx.count()
    B = 200
    spine = (
        spark.range(1, B + 1)
        .select(F.col("id").alias("b"))
        .crossJoin(spark.range(1, n + 1).select(F.col("id").alias("k")))
    )
    pick = (
        F.conv(
            F.substring(
                F.md5((F.col("b") * 100000 + F.col("k")).cast("string")), 1, 15
            ),
            16, 10,
        ).cast("bigint") % n + 1
    ).alias("j")
    resampled = spine.select("b", pick).join(F.broadcast(idx), "j")
    means = resampled.groupBy("b").agg(
        (F.sum("cents").cast("double") / F.count("*") / 100.0).alias("m")
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("r")
    )
    lo_r, hi_r = int(B * 0.025), int(B * 0.975)
    observed = idx.agg(
        (F.sum("cents").cast("double") / F.count("*") / 100.0).alias("obs")
    )
    return (
        ranked.filter(F.col("r").isin(lo_r, hi_r))
        .groupBy()
        .agg(
            F.round(F.min("m"), 6).alias("ci_lo"),
            F.round(F.max("m"), 6).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(observed))
        .select(
            F.lit(B).cast("bigint").alias("n_resamples"),
            F.lit(n).cast("bigint").alias("n_days"),
            F.round("obs", 6).alias("mean_daily_revenue"),
            "ci_lo", "ci_hi",
        )
    )


_BOOTSTRAP_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS j, cents FROM daily),
n AS (SELECT COUNT(*) AS n FROM idx),
spine AS (
  SELECT b.range AS b, idx.j AS k
  FROM range(1, 201) b CROSS JOIN idx),
resampled AS (
  SELECT b,
    ('0x' || substr(md5(CAST(b * 100000 + k AS VARCHAR)), 1, 15))::BIGINT
      % (SELECT n FROM n) + 1 AS j
  FROM spine),
means AS (
  SELECT b, CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS m
  FROM resampled JOIN idx USING (j) GROUP BY b),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM means),
ci AS (
  SELECT ROUND(MIN(m), 6) AS ci_lo, ROUND(MAX(m), 6) AS ci_hi
  FROM ranked WHERE r IN (5, 195)),
obs AS (
  SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS obs FROM idx)
SELECT CAST(200 AS BIGINT) AS n_resamples,
  CAST((SELECT n FROM n) AS BIGINT) AS n_days,
  ROUND(obs, 6) AS mean_daily_revenue, ci_lo, ci_hi
FROM ci, obs
"""


def q_limit_by_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``LIMIT 2 OFFSET 1 BY o_orderpriority`` parity: for
    every priority class, skip the single biggest order and keep the
    next two (the runner-up report — ClickHouse's per-group pagination
    that plain LIMIT can't express). The 5-value priority enum would fan
    the orders table into 5 tasks under a plain partitioned window, so
    the per-priority rank is the distributed grouped row_number (ranged
    order + broadcast rebase); keep ranks 2-3."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ranked = RK.grouped_top_k(
        o.select("o_orderpriority", "o_orderkey", cents.alias("cents")),
        ["o_orderpriority"],
        [F.desc("cents"), F.col("o_orderkey")],
        3,
        col_name="rnk",
    )
    return (
        ranked.filter(F.col("rnk").between(2, 3))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("rnk").cast("bigint").alias("rnk"),
            "o_orderkey", "cents",
        )
        .orderBy("priority", "rnk")
    )


_LIMIT_BY_SQL = """
SELECT o_orderpriority AS priority, CAST(rnk AS BIGINT) AS rnk,
  o_orderkey, cents
FROM (
  SELECT o_orderpriority, o_orderkey,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC, o_orderkey)
      AS rnk
  FROM orders)
WHERE rnk BETWEEN 2 AND 3
ORDER BY priority, rnk
"""


def q_group_by_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``GROUP BY ... WITH TOTALS`` parity: per-status order
    counts and exact revenue, plus the single TOTALS row (status
    '__totals__') computed in the same pass via ROLLUP — no second
    scan, no union. grouping_id distinguishes the totals row exactly
    the way ClickHouse's totals block does."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.select("o_orderstatus", cents.alias("cents"))
        .rollup("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("__totals__")).alias("status"),
            "n_orders", "revenue_cents",
        )
        .orderBy("status")
    )


_WITH_TOTALS_SQL = """
SELECT COALESCE(o_orderstatus, '__totals__') AS status,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM orders GROUP BY ROLLUP (o_orderstatus)
ORDER BY status
"""


def q_ttl_rollup_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``TTL ... GROUP BY`` parity — the MergeTree aging
    policy that REPLACES raw rows older than the TTL boundary with
    per-(day, type) aggregates while younger rows stay raw. Boundary:
    2024-01-20. The query emits the unified post-compaction table
    profile per day: granularity ('raw' | 'rollup'), stored rows (raw
    events vs one row per (day,type)), represented events, and exact
    value cents — proving the compaction is lossless in count and sum.
    Both branches are one conditional aggregation; no union of scans —
    a single pass groups by (day, granularity) with a type key only on
    the cold side."""
    ev = _t(spark, sf_dir, "events")
    t0 = F.lit("2024-01-20 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    tagged = ev.select(
        F.to_date("ts").alias("day"),
        F.when(F.col("ts") < t0, F.lit("rollup")).otherwise(F.lit("raw")).alias("granularity"),
        F.when(F.col("ts") < t0, F.col("event_type")).alias("rollup_type"),
        F.when(F.col("ts") >= t0, F.col("event_id")).alias("raw_id"),
        cents.alias("cents"),
    )
    return (
        tagged.groupBy("day", "granularity")
        .agg(
            # cold days store one row per event type; hot days one per event
            (F.count_distinct("rollup_type") + F.count_distinct("raw_id"))
            .cast("bigint").alias("stored_rows"),
            F.count("*").cast("bigint").alias("events_represented"),
            F.sum("cents").cast("bigint").alias("value_cents"),
        )
        .withColumn(
            "compaction_ratio_ppm",
            F.expr("stored_rows * 1000000 div events_represented").cast("bigint"),
        )
        .orderBy("day")
    )


_TTL_ROLLUP_SQL = """
WITH tagged AS (
  SELECT CAST(ts AS DATE) AS day,
    CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
         THEN 'rollup' ELSE 'raw' END AS granularity,
    CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
         THEN event_type END AS rollup_type,
    CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
         THEN event_id END AS raw_id,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT day, granularity,
  CAST(COUNT(DISTINCT rollup_type) + COUNT(DISTINCT raw_id) AS BIGINT)
    AS stored_rows,
  CAST(COUNT(*) AS BIGINT) AS events_represented,
  CAST(SUM(cents) AS BIGINT) AS value_cents,
  CAST((COUNT(DISTINCT rollup_type) + COUNT(DISTINCT raw_id)) * 1000000
       // COUNT(*) AS BIGINT) AS compaction_ratio_ppm
FROM tagged GROUP BY day, granularity ORDER BY day
"""


def q_theta_method_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 — the
    M3-competition winner) for daily revenue: OLS-detrend to the θ=2
    line, SES(α=0.5) over it, then h=1..14 forecasts
    s_n + (h−1+1/α)·slope/2. Regression sums are EXACT integers
    (decimal in SQL) divided once; the SES recurrence replays the
    identical IEEE sequence in applyInPandas (Spark, one task — the
    forecaster's per-series partitioning) and a recursive CTE (DuckDB),
    so the gate is bit-exact with no rounding slack. Reference model
    family: forecast_script.py:171-177 fits per-series models the same
    one-task-per-series way."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)

    def _theta(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        ys = [int(v) for v in pdf["cents"]]
        n = len(ys)
        st = n * (n + 1) // 2
        stt = n * (n + 1) * (2 * n + 1) // 6
        sy = sum(ys)
        sty = sum((t + 1) * y for t, y in enumerate(ys))
        num, den = n * sty - st * sy, n * stt - st * st
        a1 = float(num) / float(den)
        a0 = (sy - a1 * st) / n
        s = None
        for t, y in enumerate(ys, start=1):
            x2 = 2.0 * y - (a0 + a1 * t)
            s = x2 if s is None else 0.5 * x2 + 0.5 * s
        rows = {"h": [], "forecast": [], "ses_level": [], "slope_cents": []}
        for h in range(1, 15):
            f = s + (h - 1 + 2.0) * (a1 / 2.0)
            rows["h"].append(h)
            rows["forecast"].append(f / 100.0)
            rows["ses_level"].append(s / 100.0)
            rows["slope_cents"].append(a1)
        return pd.DataFrame(rows)

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: _theta(pdf),
            "h int, forecast double, ses_level double, slope_cents double",
        )
        .orderBy("h")
    )


_THETA_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, y FROM daily),
reg AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(rn AS DECIMAL(38,0))) AS st,
    SUM(CAST(rn AS DECIMAL(38,0)) * CAST(rn AS DECIMAL(38,0))) AS stt,
    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(rn AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sty
  FROM idx),
coef AS (
  SELECT n,
    CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) AS a1,
    (CAST(sy AS DOUBLE)
     - CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE)
       * CAST(st AS DOUBLE)) / n AS a0
  FROM reg),
ses(rn, s) AS (
  SELECT i.rn, 2.0 * i.y - (c.a0 + c.a1 * i.rn)
  FROM idx i, coef c WHERE i.rn = 1
  UNION ALL
  SELECT i.rn, 0.5 * (2.0 * i.y - (c.a0 + c.a1 * i.rn)) + 0.5 * p.s
  FROM ses p JOIN idx i ON i.rn = p.rn + 1, coef c),
last AS (SELECT s FROM ses ORDER BY rn DESC LIMIT 1),
h AS (SELECT UNNEST(generate_series(1, 14)) AS h)
SELECT CAST(h.h AS INT) AS h,
  (l.s + (h.h - 1 + 2.0) * (c.a1 / 2.0)) / 100.0 AS forecast,
  l.s / 100.0 AS ses_level,
  c.a1 AS slope_cents
FROM h, last l, coef c ORDER BY h
"""


def q_ql_dirichlet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001 — the LM complement of BM25, μ=100) for a fixed
    3-term query: score(d) = Σ_q ln((tf + μ·P(q|C)) / (|d| + μ)).
    Collection statistics reduce to one broadcast row; per-doc term
    frequencies are row-local array filters, so the whole scorer is one
    corpus scan + a 3-ln chain — same shapes at any corpus size.
    Top-20, doc_id tie-break."""
    terms = ["stream", "filter", "vector"]
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    mu = F.lit(100.0)
    def _tf(term: str) -> F.Column:
        # NB: a `lambda x, t=term` default-arg closure would be seen by
        # PySpark as the 2-ary (element, index) lambda form — bind via
        # this factory instead
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    )
    stats = per.agg(
        F.sum("dl").cast("double").alias("ctot"),
        *[F.sum(f"tf{i}").cast("double").alias(f"ctf{i}") for i in range(len(terms))],
    )
    j = per.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        term_score = F.log(
            (F.col(f"tf{i}") + mu * (F.col(f"ctf{i}") / F.col("ctot")))
            / (F.col("dl") + mu)
        )
        score = term_score if score is None else score + term_score
    return (
        j.select("doc_id", "dl", F.round(score, 6).alias("ql_score"))
        .orderBy(F.desc("ql_score"), "doc_id")
        .limit(20)
    )


_QL_SQL = f"""
WITH per AS (
  SELECT doc_id, len({_TOKS_SQL}) AS dl,
    len(list_filter({_TOKS_SQL}, x -> x = 'stream')) AS tf0,
    len(list_filter({_TOKS_SQL}, x -> x = 'filter')) AS tf1,
    len(list_filter({_TOKS_SQL}, x -> x = 'vector')) AS tf2
  FROM documents),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) AS ctot,
    CAST(SUM(tf0) AS DOUBLE) AS ctf0,
    CAST(SUM(tf1) AS DOUBLE) AS ctf1,
    CAST(SUM(tf2) AS DOUBLE) AS ctf2
  FROM per)
SELECT doc_id, dl,
  ROUND(
    LN((tf0 + 100.0 * (ctf0 / ctot)) / (dl + 100.0))
    + LN((tf1 + 100.0 * (ctf1 / ctot)) / (dl + 100.0))
    + LN((tf2 + 100.0 * (ctf2 / ctot)) / (dl + 100.0)), 6) AS ql_score
FROM per, stats
ORDER BY ql_score DESC, doc_id LIMIT 20
"""


def q_hurst_exponent_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis of daily revenue
    — the long-memory diagnostic (H≈0.5 random walk, >0.5 trending)
    that decides whether momentum features are real. Dyadic scales
    {8,16,32,64}: blocks of s days each yield R (range of the ordered
    cumulative deviation — an ORDERED window sum, so the double
    sequence is identical on both engines) over S (block σ from exact
    integer power sums); H = OLS slope of ln(mean R/S) on ln(s).
    Reports per-scale mean R/S plus the fitted H on every row. The
    series is a day-grain rollup, so all of this is tiny-frame window
    math regardless of fact size."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    idx = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("i"), "cents"
    ).localCheckpoint(eager=True)
    scales = spark.createDataFrame([(8,), (16,), (32,), (64,)], "s int")
    blocks = idx.crossJoin(F.broadcast(scales)).select(
        "s", (F.col("i") / F.col("s")).cast("int").alias("blk"), "i", "cents"
    )
    # block moments from exact integer sums
    wb = Window.partitionBy("s", "blk")
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    withm = (
        blocks.withColumn("bn", F.count("*").over(wb))
        .filter(F.col("bn") == F.col("s"))  # full blocks only
        .withColumn("bsum", F.sum(d19(F.col("cents"))).over(wb).cast("double"))
        .withColumn("bsumsq", F.sum(d19(F.col("cents")) * d19(F.col("cents"))).over(wb).cast("double"))
        .withColumn("mean", F.col("bsum") / F.col("s"))
        .withColumn(
            "sd",
            F.sqrt((F.col("bsumsq") - F.col("bsum") * F.col("bsum") / F.col("s"))
                   / F.col("s")),
        )
    )
    wcum = Window.partitionBy("s", "blk").orderBy("i")
    dev = withm.withColumn(
        "cum", F.sum(F.col("cents").cast("double") - F.col("mean")).over(wcum)
    )
    per_block = dev.groupBy("s", "blk").agg(
        # round before the cross-block mean: block R/S values then sum
        # as decimal, so the scale mean is partition-order-free
        F.round((F.max("cum") - F.min("cum")) / F.first("sd"), 6).alias("rs")
    )
    per_scale = per_block.groupBy("s").agg(
        F.count("*").alias("n_blocks"),
        (_dsum(F.col("rs")) / F.count("*")).alias("mean_rs"),
    ).withColumn(
        # marker: bounded by the 4 literal dyadic scales at every SF
        # (plans.single_partition_collapses bounded-by-construction leaf)
        "__bounded_by_4_scales", F.lit(1)
    ).localCheckpoint(eager=True)
    # OLS of ln(mean_rs) on ln(s) over the 4 scale points
    wall = Window.partitionBy()
    ln_s, ln_r = F.log(F.col("s").cast("double")), F.log("mean_rs")
    fit = per_scale.select(
        "s", "n_blocks", "mean_rs", ln_s.alias("lx"), ln_r.alias("ly")
    ).withColumn(
        "hurst",
        (F.count("*").over(wall) * F.sum(F.col("lx") * F.col("ly")).over(wall)
         - F.sum("lx").over(wall) * F.sum("ly").over(wall))
        / (F.count("*").over(wall) * F.sum(F.col("lx") * F.col("lx")).over(wall)
           - F.sum("lx").over(wall) * F.sum("lx").over(wall)),
    )
    return fit.select(
        "s",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.round("mean_rs", 6).alias("mean_rs"),
        F.round("hurst", 6).alias("hurst"),
    ).orderBy("s")


_HURST_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) - 1 AS i, cents FROM daily),
scales AS (SELECT UNNEST([8, 16, 32, 64]) AS s),
blocks AS (
  SELECT s, CAST(i // s AS INT) AS blk, i, cents
  FROM idx CROSS JOIN scales),
withm AS (
  SELECT * FROM (
    SELECT s, blk, i, cents,
      COUNT(*) OVER wb AS bn,
      CAST(SUM(CAST(cents AS DECIMAL(19,0))) OVER wb AS DOUBLE) AS bsum,
      CAST(SUM(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0)))
           OVER wb AS DOUBLE) AS bsumsq
    FROM blocks WINDOW wb AS (PARTITION BY s, blk))
  WHERE bn = s),
dev AS (
  SELECT s, blk,
    bsum / s AS mean,
    SQRT((bsumsq - bsum * bsum / s) / s) AS sd,
    SUM(CAST(cents AS DOUBLE) - bsum / s)
      OVER (PARTITION BY s, blk ORDER BY i) AS cum
  FROM withm),
per_block AS (
  SELECT s, blk, ROUND((MAX(cum) - MIN(cum)) / ANY_VALUE(sd), 6) AS rs
  FROM dev GROUP BY s, blk),
per_scale AS (
  SELECT s, COUNT(*) AS n_blocks,
    CAST(SUM(CAST(rs AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS mean_rs
  FROM per_block GROUP BY s),
fit AS (
  SELECT s, n_blocks, mean_rs,
    LN(CAST(s AS DOUBLE)) AS lx, LN(mean_rs) AS ly
  FROM per_scale)
SELECT s, CAST(n_blocks AS BIGINT) AS n_blocks,
  ROUND(mean_rs, 6) AS mean_rs,
  ROUND((COUNT(*) OVER () * SUM(lx * ly) OVER ()
         - SUM(lx) OVER () * SUM(ly) OVER ())
        / (COUNT(*) OVER () * SUM(lx * lx) OVER ()
           - SUM(lx) OVER () * SUM(lx) OVER ()), 6) AS hurst
FROM fit ORDER BY s
"""


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain: H = Σ_i π(i)
    Σ_j −P(i→j)·ln P(i→j), with the stationary weight π estimated as
    each source state's share of transitions — the single number that
    says how predictable user journeys are (0 = deterministic). Rides
    the same lead-window pair counts as markov_transitions. event_type is
    not provably a closed enum, so the transition table counts as
    data-proportional: the total-mass and entropy-rate scalars are 1-row
    broadcast aggregates (never a global window over the cell table), and
    the per-source normalizer stays a src-PARTITIONED window (parallel by
    key). The cell table is checkpointed once — one events scan total."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    counts = (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    ntot = counts.agg(F.sum("n").alias("ntot"))
    wsrc = Window.partitionBy("src")
    t = counts.withColumn("nsrc", F.sum("n").over(wsrc)).crossJoin(
        F.broadcast(ntot)
    )
    p = F.col("n").cast("double") / F.col("nsrc")
    cell = -(F.col("nsrc").cast("double") / F.col("ntot")) * p * F.log(p)
    per_src = (
        t.groupBy("src")
        .agg(
            F.first("nsrc").cast("bigint").alias("n_transitions"),
            F.round(F.sum(-p * F.log(p)), 6).alias("row_entropy"),
            F.sum(cell).alias("h_part"),
        )
    )
    hr = per_src.agg(F.sum("h_part").alias("h_sum"))
    return (
        per_src.crossJoin(F.broadcast(hr))
        .withColumn("entropy_rate", F.round(F.col("h_sum"), 6))
        .select("src", "n_transitions", "row_entropy", "entropy_rate")
        .orderBy("src")
    )


_MARKOV_ENTROPY_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events),
counts AS (
  SELECT src, dst, COUNT(*) AS n FROM pairs
  WHERE dst IS NOT NULL GROUP BY 1, 2),
t AS (
  SELECT src, dst, n,
    SUM(n) OVER (PARTITION BY src) AS nsrc,
    SUM(n) OVER () AS ntot
  FROM counts),
per_src AS (
  SELECT src,
    CAST(ANY_VALUE(nsrc) AS BIGINT) AS n_transitions,
    ROUND(SUM(-(CAST(n AS DOUBLE) / nsrc) * LN(CAST(n AS DOUBLE) / nsrc)), 6)
      AS row_entropy,
    SUM(-(CAST(nsrc AS DOUBLE) / ntot) * (CAST(n AS DOUBLE) / nsrc)
        * LN(CAST(n AS DOUBLE) / nsrc)) AS h_part
  FROM t GROUP BY src)
SELECT src, n_transitions, row_entropy,
  ROUND(SUM(h_part) OVER (), 6) AS entropy_rate
FROM per_src ORDER BY src
"""


def q_evt_gumbel_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis: monthly block maxima of daily revenue,
    Gumbel fit by method of moments (β = σ√6/π, μ = m − γβ with the
    Euler–Mascheroni constant as a double literal), and the 10/50/100-
    block return levels μ − β·ln(−ln(1−1/T)) — the tail-risk numbers
    capacity planning reads. Block maxima are one day-grain rollup +
    one month aggregation; moments are exact integer power sums of the
    maxima divided once."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    maxima = (
        daily.groupBy(F.date_trunc("month", "d").cast("date").alias("m"))
        .agg(F.max("cents").alias("mx"))
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    mom = maxima.agg(
        F.count("*").alias("n"),
        F.sum(d19(F.col("mx"))).cast("double").alias("sx"),
        F.sum(d19(F.col("mx")) * d19(F.col("mx"))).cast("double").alias("sxx"),
    ).select(
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
               / (F.col("n") - 1)).alias("sd"),
    )
    gamma = 0.5772156649015329
    pi = 3.141592653589793
    beta = F.col("sd") * F.sqrt(F.lit(6.0)) / pi
    mu = F.col("mean") - gamma * beta
    levels = spark.createDataFrame([(10,), (50,), (100,)], "t int")
    rl = mu - beta * F.log(-F.log(1.0 - 1.0 / F.col("t").cast("double")))
    return (
        mom.crossJoin(F.broadcast(levels))
        .select(
            "t",
            F.col("n").cast("bigint").alias("n_blocks"),
            F.round(mu / 100.0, 6).alias("gumbel_mu"),
            F.round(beta / 100.0, 6).alias("gumbel_beta"),
            F.round(rl / 100.0, 6).alias("return_level"),
        )
        .orderBy("t")
    )


_EVT_GUMBEL_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
maxima AS (
  SELECT date_trunc('month', d) AS m, MAX(cents) AS mx
  FROM daily GROUP BY 1),
mom AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(CAST(mx AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))) AS DOUBLE)
      AS sxx
  FROM maxima),
fit AS (
  SELECT n, sx / n AS mean,
    SQRT((sxx - sx * sx / n) / (n - 1)) AS sd
  FROM mom),
levels AS (SELECT UNNEST([10, 50, 100]) AS t)
SELECT t, CAST(n AS BIGINT) AS n_blocks,
  ROUND((mean - 0.5772156649015329 * (sd * SQRT(6.0) / 3.141592653589793))
        / 100.0, 6) AS gumbel_mu,
  ROUND((sd * SQRT(6.0) / 3.141592653589793) / 100.0, 6) AS gumbel_beta,
  ROUND(((mean - 0.5772156649015329 * (sd * SQRT(6.0) / 3.141592653589793))
    - (sd * SQRT(6.0) / 3.141592653589793)
      * LN(-LN(1.0 - 1.0 / CAST(t AS DOUBLE)))) / 100.0, 6) AS return_level
FROM fit CROSS JOIN levels ORDER BY t
"""


def q_template_skeleton_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-level dedup — the instruction-data sibling of exact
    dedup: texts normalize to a SKELETON (digits → '#', whitespace
    collapsed, lowercase) so docs differing only in numbers/ids
    collide. Reports per source: docs, distinct skeletons, docs sitting
    in a collision class (skeleton shared by ≥2 docs), and the rows
    removable by keep-one-per-skeleton. Skeletonization is row-local
    regex; the shuffle carries (source, skeleton-md5) pairs only."""
    docs = _t(spark, sf_dir, "documents")
    skel = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[0-9]+", "#"), "\\s+", " "
            )
        )
    )
    per = docs.select("source", skel.alias("sk"))
    grp = per.groupBy("source", "sk").agg(F.count("*").alias("n"))
    return (
        grp.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_skeletons"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
            .cast("bigint").alias("docs_in_collisions"),
            F.sum(F.col("n") - 1).cast("bigint").alias("removable_docs"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("removable_docs * 1000000 div n_docs").cast("bigint"),
        )
        .orderBy("source")
    )


_SKELETON_SQL = """
WITH per AS (
  SELECT source,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'),
                            '\\s+', ' ', 'g'))) AS sk
  FROM documents),
grp AS (
  SELECT source, sk, COUNT(*) AS n FROM per GROUP BY 1, 2)
SELECT source,
  CAST(SUM(n) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_skeletons,
  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS docs_in_collisions,
  CAST(SUM(n - 1) AS BIGINT) AS removable_docs,
  CAST(SUM(n - 1) * 1000000 // SUM(n) AS BIGINT) AS dup_ppm
FROM grp GROUP BY source ORDER BY source
"""


def q_padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batching-efficiency report: token padding waste under (a) global
    padding to the capped max length vs (b) length-bucketed batching
    (64-token buckets) — the number that justifies bucketed batching in
    a training loader. Lengths cap at 512 (the packing contract);
    per-strategy padded-token totals are exact integers, so waste ppm
    is hash-exact. One tokenize pass, one bucket aggregation, one tiny
    global max broadcast."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.least(TX.token_count(F.col("text")), F.lit(512))
    per = docs.select(n_tok.alias("len"))
    gmax = per.agg(F.max("len").alias("gmax"))
    bucket = (F.ceil(F.col("len").cast("double") / 64.0) * 64).cast("bigint")
    # loaders pad to the LONGEST sequence in the bucket, not the cap —
    # so bucket waste can never exceed global-max padding
    per_b = (
        per.withColumn("bucket_cap", F.greatest(bucket, F.lit(64)))
        .groupBy("bucket_cap")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("len").cast("bigint").alias("real_tokens"),
            F.max("len").cast("bigint").alias("bucket_max"),
        )
        .withColumn(
            "bucket_padded", (F.col("bucket_max") * F.col("n_docs")).cast("bigint")
        )
    )
    return (
        per_b.crossJoin(F.broadcast(gmax))
        .select(
            "bucket_cap", "n_docs", "real_tokens", "bucket_max",
            (F.col("bucket_padded") - F.col("real_tokens")).alias("bucket_waste"),
            (F.col("gmax").cast("bigint") * F.col("n_docs") - F.col("real_tokens"))
            .alias("global_waste"),
        )
        .withColumn(
            "saved_ppm",
            F.expr(
                "(global_waste - bucket_waste) * 1000000 div "
                "greatest(global_waste, 1)"
            ).cast("bigint"),
        )
        .orderBy("bucket_cap")
    )


_PADDING_SQL = f"""
WITH per AS (
  SELECT LEAST(len({_TOKS_SQL}), 512) AS len FROM documents),
gmax AS (SELECT MAX(len) AS gmax FROM per),
per_b AS (
  SELECT GREATEST(CAST(CEIL(CAST(len AS DOUBLE) / 64.0) * 64 AS BIGINT), 64)
      AS bucket_cap,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len) AS BIGINT) AS real_tokens,
    CAST(MAX(len) AS BIGINT) AS bucket_max
  FROM per GROUP BY 1)
SELECT bucket_cap, n_docs, real_tokens, bucket_max,
  CAST(bucket_max * n_docs - real_tokens AS BIGINT) AS bucket_waste,
  CAST(gmax * n_docs - real_tokens AS BIGINT) AS global_waste,
  CAST((gmax * n_docs - real_tokens - (bucket_max * n_docs - real_tokens))
       * 1000000 // GREATEST(gmax * n_docs - real_tokens, 1) AS BIGINT)
    AS saved_ppm
FROM per_b CROSS JOIN gmax ORDER BY bucket_cap
"""


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data-prep shape):
    within each source shard, docs rank by the curriculum quality
    score; rank i pairs with rank n+1−i (best vs worst, inward) so
    every pair has the widest available margin without reuse. Emits
    chosen/rejected ids and the exact margin; pairs with zero margin
    are dropped (no learning signal). Ranking is one per-source window;
    the pairing is a per-source self-equi-join on the reflected rank —
    no cross-source traffic."""
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    n_toks = F.size(toks)
    stop_share = (
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS["en"])))
        / F.greatest(n_toks, F.lit(1))
    )
    noise = (
        F.length(F.regexp_replace(F.lower("text"), "[a-z0-9 ]", ""))
        / F.greatest(F.length("text"), F.lit(1))
    )
    scored = docs.select(
        "doc_id", "source",
        F.round(stop_share - noise, 9).alias("q"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("q"), "doc_id")
    ranked = scored.select(
        "source", "doc_id", "q",
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    ).localCheckpoint(eager=True)
    a = ranked.alias("a")
    b = ranked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.r") == F.col("a.n") + 1 - F.col("a.r"))
        & (F.col("a.r") < F.col("b.r")),
    )
    return (
        pairs.select(
            F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("chosen_id"),
            F.col("b.doc_id").alias("rejected_id"),
            F.round(F.col("a.q") - F.col("b.q"), 9).alias("margin"),
        )
        .filter(F.col("margin") > 0)
        .orderBy("source", F.desc("margin"), "chosen_id")
    )


_PREFERENCE_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
    ROUND(
      len(list_filter({_TOKS_SQL},
        t -> t IN ({",".join(repr(w) for w in STOPWORDS["en"])})))
        / greatest(len({_TOKS_SQL}), 1)
      - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        / greatest(length(text), 1), 9) AS q
  FROM documents),
ranked AS (
  SELECT source, doc_id, q,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS r,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM scored)
SELECT a.source, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
  ROUND(a.q - b.q, 9) AS margin
FROM ranked a JOIN ranked b
  ON a.source = b.source AND b.r = a.n + 1 - a.r AND a.r < b.r
WHERE ROUND(a.q - b.q, 9) > 0
ORDER BY a.source, margin DESC, chosen_id
"""


def q_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of user activity (Goh & Barabási 2008): per user, the
    interarrival-time coefficient stats fold into B = (σ−μ)/(σ+μ)
    (−1 = periodic, 0 = Poisson, →1 = bursty); the report aggregates
    the mean B per activity band (users bucketed by event count:
    <50 / 50-99 / ≥100). Interarrival seconds are exact integers, per-
    user moments are exact sums, and per-user B rounds to 1e-6 before
    the decimal cross-user mean — fully order-free. One user-ordered
    window + two aggregations."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact MICROsecond gaps: unix_timestamp would truncate to seconds
    # while DuckDB's epoch() keeps fractions — µs integers agree exactly
    gaps = (
        ev.select(
            "user_id",
            (F.unix_micros("ts")
             - F.unix_micros(F.lag("ts").over(w))).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    per_user = gaps.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(d19(F.col("gap"))).cast("double").alias("sg"),
        F.sum(d19(F.col("gap")) * d19(F.col("gap"))).cast("double").alias("sgg"),
    ).filter(F.col("n") >= 2)
    mu = F.col("sg") / F.col("n")
    sd = F.sqrt((F.col("sgg") - F.col("sg") * F.col("sg") / F.col("n")) / F.col("n"))
    b = F.round((sd - mu) / (sd + mu), 6)
    banded = per_user.select(
        F.when(F.col("n") < 50, F.lit("a_under_50"))
        .when(F.col("n") < 100, F.lit("b_50_to_99"))
        .otherwise(F.lit("c_100_plus")).alias("band"),
        b.alias("b"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(_dsum(F.col("b")) / F.count("*"), 6).alias("mean_burstiness"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
        .orderBy("band")
    )


_BURSTINESS_SQL = """
WITH gaps AS (
  SELECT user_id,
    epoch_us(ts)
      - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      AS gap
  FROM events),
per_user AS (
  SELECT user_id, COUNT(*) AS n,
    CAST(SUM(CAST(gap AS DECIMAL(19,0))) AS DOUBLE) AS sg,
    CAST(SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS DOUBLE)
      AS sgg
  FROM gaps WHERE gap IS NOT NULL GROUP BY user_id HAVING COUNT(*) >= 2),
scored AS (
  SELECT CASE WHEN n < 50 THEN 'a_under_50'
              WHEN n < 100 THEN 'b_50_to_99'
              ELSE 'c_100_plus' END AS band,
    ROUND((SQRT((sgg - sg * sg / n) / n) - sg / n)
          / (SQRT((sgg - sg * sg / n) / n) + sg / n), 6) AS b
  FROM per_user)
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_users,
  ROUND(CAST(SUM(CAST(b AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
    AS mean_burstiness,
  MIN(b) AS min_b, MAX(b) AS max_b
FROM scored GROUP BY band ORDER BY band
"""


def q_capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimator — the dedup-theory tool for
    'how many users exist that we HAVEN'T seen': treat viewers as
    capture 1, clickers as capture 2; N̂ = (n1+1)(n2+1)/(m+1) − 1 with
    the Seber variance for a ±1.96σ interval. One user-grain dedup
    aggregation; everything after is scalar algebra on one row."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("c1"),
        F.max((F.col("event_type") == "click").cast("int")).alias("c2"),
    )
    base = per_user.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).alias("m"),
        F.count("*").alias("n_observed"),
    )
    n1, n2, m = (F.col(c).cast("double") for c in ("n1", "n2", "m"))
    nhat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    var = ((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
           / ((m + 1.0) * (m + 1.0) * (m + 2.0)))
    half = 1.959963984540054 * F.sqrt(var)
    return base.select(
        F.col("n1").cast("bigint").alias("n_viewers"),
        F.col("n2").cast("bigint").alias("n_clickers"),
        F.col("m").cast("bigint").alias("n_both"),
        F.col("n_observed").cast("bigint").alias("n_observed"),
        F.round(nhat, 3).alias("n_hat"),
        F.round(nhat - half, 3).alias("ci_lo"),
        F.round(nhat + half, 3).alias("ci_hi"),
    )


_CAPTURE_SQL = """
WITH per_user AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
  FROM events GROUP BY user_id),
base AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2, SUM(c1 * c2) AS m,
    COUNT(*) AS n_observed
  FROM per_user),
c AS (
  SELECT CAST(n1 AS DOUBLE) AS n1, CAST(n2 AS DOUBLE) AS n2,
    CAST(m AS DOUBLE) AS m, n_observed,
    (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
      / (CAST(m AS DOUBLE) + 1.0) - 1.0 AS nhat,
    1.959963984540054 * SQRT(
      (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
      * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE))
      * (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE))
      / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0)
         * (CAST(m AS DOUBLE) + 2.0))) AS half
  FROM base)
SELECT CAST(n1 AS BIGINT) AS n_viewers, CAST(n2 AS BIGINT) AS n_clickers,
  CAST(m AS BIGINT) AS n_both, CAST(n_observed AS BIGINT) AS n_observed,
  ROUND(nhat, 3) AS n_hat,
  ROUND(nhat - half, 3) AS ci_lo,
  ROUND(nhat + half, 3) AS ci_hi
FROM c
"""


def q_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on daily revenue — the inferential
    closure of the ACF family: Q = n(n+2)·Σ_{k≤14} r_k²/(n−k) vs the
    χ²(14) 95% critical value (a double literal), answering 'is this
    series white noise?' before any forecasting effort. The r_k
    pipeline is the acf_daily_revenue shape (exact decimal power sums,
    lag spine join); per-lag Q terms round to 1e-12 and sum as decimal
    so the 14-term fold is order-free. Two shuffles total."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "x")
    series = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "x"
    ).localCheckpoint(eager=True)
    n_days = series.count()
    lags = spark.range(1, 15).select(F.col("id").cast("int").alias("k"))
    a, b = series.alias("a"), series.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.i") == F.col("a.i") + F.col("k"))
        .select("k", F.col("a.x").alias("x"), F.col("b.x").alias("y"))
    )
    dsum = lambda col: F.sum(col.cast("decimal(38,0)")).cast("double")  # noqa: E731
    d19 = lambda col: col.cast("decimal(19,0)")  # noqa: E731
    psum = lambda u, v: F.sum(d19(u) * d19(v)).cast("double")  # noqa: E731
    sums = pairs.groupBy("k").agg(
        F.count("*").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        psum(F.col("x"), F.col("y")).alias("sxy"),
        psum(F.col("x"), F.col("x")).alias("sxx"),
        psum(F.col("y"), F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    r6 = F.round(num / den, 6)
    term = F.round(
        r6 * r6 / (F.lit(float(n_days)) - F.col("k").cast("double")), 12
    )
    agg = sums.select("k", term.alias("t")).agg(
        F.sum(F.col("t").cast("decimal(38,18)")).cast("double").alias("ssum")
    )
    crit = 23.684791304840576  # chi2 ppf(0.95, df=14)
    q = F.lit(float(n_days)) * (F.lit(float(n_days)) + 2.0) * F.col("ssum")
    return agg.select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.lit(14).cast("bigint").alias("df"),
        F.round(q, 6).alias("q_stat"),
        F.lit(crit).alias("critical_0_95"),
        (q > crit).alias("reject_white_noise"),
    )


_LJUNG_BOX_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
series AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM daily),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM series),
lags AS (SELECT CAST(unnest(generate_series(1, 14)) AS INT) AS k),
pairs AS (
  SELECT k, a.x AS x, b.x AS y
  FROM series a CROSS JOIN lags
  JOIN series b ON b.i = a.i + k),
sums AS (
  SELECT k, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
  FROM pairs GROUP BY k),
terms AS (
  SELECT ROUND(
    ROUND((n * sxy - sx * sy)
          / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
    * ROUND((n * sxy - sx * sy)
          / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
    / (nd - k), 12) AS t
  FROM sums, nn),
agg AS (
  SELECT CAST(SUM(CAST(t AS DECIMAL(38,18))) AS DOUBLE) AS ssum FROM terms)
SELECT CAST(nd AS BIGINT) AS n_days, CAST(14 AS BIGINT) AS df,
  ROUND(nd * (nd + 2.0) * ssum, 6) AS q_stat,
  23.684791304840576 AS critical_0_95,
  nd * (nd + 2.0) * ssum > 23.684791304840576 AS reject_white_noise
FROM agg, nn
"""


def q_replacing_final_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree + ``FINAL`` semantics with tombstones — the
    CDC-compaction read path: every event is an upsert of its user's
    profile (version = event_id); events with event_id % 10 = 0 are
    DELETE tombstones. FINAL = keep only the max-version row per user,
    and emit nothing if that row is a tombstone. Reports the upsert/
    delete/survivor census plus an exact survivors value-checksum. One
    max_by aggregation per key — no sort, no window, the merge-on-read
    collapse at any scale."""
    ev = _t(spark, sf_dir, "events")
    versioned = ev.select(
        "user_id",
        F.col("event_id").alias("version"),
        (F.col("event_id") % 10 == 0).alias("is_delete"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    final = versioned.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_versions"),
        F.sum(F.col("is_delete").cast("int")).cast("bigint").alias("n_deletes"),
        F.max_by("is_delete", "version").alias("last_is_delete"),
        F.max_by("cents", "version").alias("last_cents"),
    )
    return final.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n_versions").cast("bigint").alias("n_upserts"),
        F.sum("n_deletes").cast("bigint").alias("n_tombstones"),
        F.sum((~F.col("last_is_delete")).cast("int")).cast("bigint").alias("n_survivors"),
        F.sum(F.when(~F.col("last_is_delete"), F.col("last_cents")).otherwise(F.lit(0)))
        .cast("bigint").alias("survivor_cents"),
    )


_REPLACING_SQL = """
WITH versioned AS (
  SELECT user_id, event_id AS version,
    event_id % 10 = 0 AS is_delete,
    CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
final AS (
  SELECT user_id, COUNT(*) AS n_versions,
    SUM(CASE WHEN is_delete THEN 1 ELSE 0 END) AS n_deletes,
    arg_max(is_delete, version) AS last_is_delete,
    arg_max(cents, version) AS last_cents
  FROM versioned GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(n_versions) AS BIGINT) AS n_upserts,
  CAST(SUM(n_deletes) AS BIGINT) AS n_tombstones,
  CAST(SUM(CASE WHEN last_is_delete THEN 0 ELSE 1 END) AS BIGINT) AS n_survivors,
  CAST(SUM(CASE WHEN last_is_delete THEN 0 ELSE last_cents END) AS BIGINT)
    AS survivor_cents
FROM final
"""


def q_collapsing_merge_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingMergeTree semantics: views carry sign +1, clicks −1;
    the merge collapses each user to SUM(sign) — pairs cancel, the
    residue is the uncollapsed state. Reports the distribution of net
    sign per user plus how many rows the collapse eliminates
    (rows_before − |net| summed) — the compaction-benefit census. One
    user aggregation + one tiny distribution rollup."""
    ev = _t(spark, sf_dir, "events")
    signed = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.when(F.col("event_type") == "view", F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    per_user = signed.groupBy("user_id").agg(
        F.count("*").alias("n_rows"), F.sum("sign").alias("net")
    )
    return (
        per_user.groupBy(
            F.when(F.col("net") > 0, F.lit("views_surplus"))
            .when(F.col("net") < 0, F.lit("clicks_surplus"))
            .otherwise(F.lit("balanced")).alias("state")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("n_rows").cast("bigint").alias("rows_before"),
            F.sum(F.abs("net")).cast("bigint").alias("rows_after"),
            F.sum(F.col("n_rows") - F.abs("net")).cast("bigint").alias("rows_collapsed"),
        )
        .orderBy("state")
    )


_COLLAPSING_SQL = """
WITH signed AS (
  SELECT user_id,
    CASE WHEN event_type = 'view' THEN 1 ELSE -1 END AS sign
  FROM events WHERE event_type IN ('view', 'click')),
per_user AS (
  SELECT user_id, COUNT(*) AS n_rows, SUM(sign) AS net
  FROM signed GROUP BY user_id)
SELECT CASE WHEN net > 0 THEN 'views_surplus'
            WHEN net < 0 THEN 'clicks_surplus'
            ELSE 'balanced' END AS state,
  CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(n_rows) AS BIGINT) AS rows_before,
  CAST(SUM(ABS(net)) AS BIGINT) AS rows_after,
  CAST(SUM(n_rows - ABS(net)) AS BIGINT) AS rows_collapsed
FROM per_user GROUP BY 1 ORDER BY state
"""


def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median over the trailing-7-day revenue frame — the
    robust moving-average alternative Spark has no built-in for (no
    exact percentile window). The frame's ≤7 cents values collect into
    a bounded array, sort row-locally, and the median picks middles
    with even/odd parity handled exactly — integer cents make the .5
    halves hash-stable. On the day-grain rollup this is O(days·7); the
    same shape partitions by series key at scale."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    w = Window.orderBy("d").rowsBetween(-6, 0)
    arr = F.sort_array(F.collect_list("cents").over(w))
    mid_hi = ((F.size(arr) + 1) / 2).cast("int")
    mid_lo = (F.size(arr) / 2).cast("int")
    med = F.when(
        F.size(arr) % 2 == 1,
        F.element_at(arr, mid_hi).cast("double"),
    ).otherwise(
        (F.element_at(arr, mid_lo) + F.element_at(arr, mid_lo + 1)) / 2.0
    )
    return daily.select(
        "d",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(med / 100.0, 3).alias("median_7d"),
        F.size(arr).cast("bigint").alias("frame_days"),
    ).orderBy("d")


_ROLLING_MEDIAN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1)
SELECT d, ROUND(cents / 100.0, 2) AS revenue,
  ROUND(MEDIAN(cents) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        / 100.0, 3) AS median_7d,
  CAST(COUNT(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       AS BIGINT) AS frame_days
FROM daily ORDER BY d
"""


def q_rrf_fusion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — the hybrid-search
    combiner): BM25 and Dirichlet query-likelihood rank the corpus for
    the same 3-term query, then fuse via RRF = Σ 1/(60+rank). Both
    scorers run off ONE row-local tf pass (no explode, no second scan);
    ranks are integer row_numbers over bit-identical score doubles, so
    the fused ordering is hash-exact. The shape generalizes: swap QL
    for an ANN ranking and this is the sparse+dense fusion every
    retrieval stack ships."""
    terms = ["stream", "filter", "vector"]
    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))

    def _tf(term: str) -> F.Column:
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(terms)],
    ).localCheckpoint(eager=True)
    stats = per.agg(
        F.count("*").alias("nd"),
        F.sum("dl").cast("double").alias("ctot"),
        *[F.sum(f"tf{i}").cast("double").alias(f"ctf{i}") for i in range(3)],
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}") for i in range(3)],
    )
    j = per.crossJoin(F.broadcast(stats))
    avgdl = F.col("ctot") / F.col("nd")
    bm25 = None
    ql = None
    for i in range(3):
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log((F.col("nd") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0)
        sat = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (F.col("dl") / avgdl)))
        b_term = idf * sat
        q_term = F.log(
            (tf + 100.0 * (F.col(f"ctf{i}") / F.col("ctot"))) / (F.col("dl") + 100.0)
        )
        bm25 = b_term if bm25 is None else bm25 + b_term
        ql = q_term if ql is None else ql + q_term
    scored = j.select(
        "doc_id", bm25.alias("s_bm25"), ql.alias("s_ql")
    ).localCheckpoint(eager=True)
    # both global ranks are DISTRIBUTED row_numbers (operators/ranking:
    # range-partitioned sort + broadcast partition offsets — two narrow
    # ranged shuffles of (doc_id, score), never a single-partition window);
    # the fused top-20 is orderBy+limit = TakeOrderedAndProject
    r_b = RK.global_row_number(
        scored.select("doc_id", "s_bm25"),
        [F.desc("s_bm25"), "doc_id"], col_name="r_bm25",
    ).select("doc_id", "r_bm25")
    r_q = RK.global_row_number(
        scored.select("doc_id", "s_ql"),
        [F.desc("s_ql"), "doc_id"], col_name="r_ql",
    ).select("doc_id", "r_ql")
    ranked = r_b.join(r_q, "doc_id")
    rrf = 1.0 / (60.0 + F.col("r_bm25")) + 1.0 / (60.0 + F.col("r_ql"))
    fused = ranked.select(
        "doc_id",
        F.col("r_bm25").cast("bigint").alias("r_bm25"),
        F.col("r_ql").cast("bigint").alias("r_ql"),
        F.round(rrf, 9).alias("rrf_score"),
    )
    return RK.top_k(fused, [F.desc("rrf_score"), "doc_id"], 20)


_RRF_SQL = f"""
WITH per AS (
  SELECT doc_id, len({_TOKS_SQL}) AS dl,
    len(list_filter({_TOKS_SQL}, x -> x = 'stream')) AS tf0,
    len(list_filter({_TOKS_SQL}, x -> x = 'filter')) AS tf1,
    len(list_filter({_TOKS_SQL}, x -> x = 'vector')) AS tf2
  FROM documents),
stats AS (
  SELECT COUNT(*) AS nd, CAST(SUM(dl) AS DOUBLE) AS ctot,
    CAST(SUM(tf0) AS DOUBLE) AS ctf0, CAST(SUM(tf1) AS DOUBLE) AS ctf1,
    CAST(SUM(tf2) AS DOUBLE) AS ctf2,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM per),
scored AS (
  SELECT doc_id,
    LN((nd - df0 + 0.5) / (df0 + 0.5) + 1.0)
      * (CAST(tf0 AS DOUBLE) * 2.2)
        / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (dl / (ctot / nd))))
    + LN((nd - df1 + 0.5) / (df1 + 0.5) + 1.0)
      * (CAST(tf1 AS DOUBLE) * 2.2)
        / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (dl / (ctot / nd))))
    + LN((nd - df2 + 0.5) / (df2 + 0.5) + 1.0)
      * (CAST(tf2 AS DOUBLE) * 2.2)
        / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (dl / (ctot / nd))))
      AS s_bm25,
    LN((CAST(tf0 AS DOUBLE) + 100.0 * (ctf0 / ctot)) / (dl + 100.0))
    + LN((CAST(tf1 AS DOUBLE) + 100.0 * (ctf1 / ctot)) / (dl + 100.0))
    + LN((CAST(tf2 AS DOUBLE) + 100.0 * (ctf2 / ctot)) / (dl + 100.0))
      AS s_ql
  FROM per, stats),
ranked AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY s_bm25 DESC, doc_id) AS r_bm25,
    ROW_NUMBER() OVER (ORDER BY s_ql DESC, doc_id) AS r_ql
  FROM scored)
SELECT doc_id, CAST(r_bm25 AS BIGINT) AS r_bm25, CAST(r_ql AS BIGINT) AS r_ql,
  ROUND(1.0 / (60.0 + r_bm25) + 1.0 / (60.0 + r_ql), 9) AS rrf_score
FROM ranked ORDER BY rrf_score DESC, doc_id LIMIT 20
"""


def q_lag_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering table for the forecaster: per day — revenue,
    lags 1/7/14/28, trailing-7-day exact mean, day-of-week, and the
    weekly-delta target. The supervised-learning matrix every
    gradient-boosted forecaster trains on; all columns are windows over
    the day-grain rollup (exact cents; the trailing mean divides a
    decimal sum once). Emits only rows with a full 28-day history so
    the matrix is dense — the train-ready contract."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    w = Window.orderBy("d")
    w7 = w.rowsBetween(-6, 0)
    feat = daily.select(
        "d",
        F.col("cents").alias("y"),
        F.lag("cents", 1).over(w).alias("lag_1"),
        F.lag("cents", 7).over(w).alias("lag_7"),
        F.lag("cents", 14).over(w).alias("lag_14"),
        F.lag("cents", 28).over(w).alias("lag_28"),
        F.round(
            F.sum(F.col("cents").cast("decimal(38,10)")).over(w7).cast("double")
            / F.count("*").over(w7) / 100.0,
            6,
        ).alias("mean_7d"),
        (F.weekday("d") + 1).alias("isodow"),
    )
    return (
        feat.filter(F.col("lag_28").isNotNull())
        .select(
            "d",
            F.round(F.col("y") / 100.0, 2).alias("y"),
            F.round(F.col("lag_1") / 100.0, 2).alias("lag_1"),
            F.round(F.col("lag_7") / 100.0, 2).alias("lag_7"),
            F.round(F.col("lag_14") / 100.0, 2).alias("lag_14"),
            F.round(F.col("lag_28") / 100.0, 2).alias("lag_28"),
            "mean_7d",
            "isodow",
            F.round((F.col("y") - F.col("lag_7")) / 100.0, 2).alias("target_wow"),
        )
        .orderBy("d")
    )


_LAG_FEATURES_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
feat AS (
  SELECT d, cents AS y,
    LAG(cents, 1) OVER w AS lag_1,
    LAG(cents, 7) OVER w AS lag_7,
    LAG(cents, 14) OVER w AS lag_14,
    LAG(cents, 28) OVER w AS lag_28,
    ROUND(CAST(SUM(CAST(cents AS DECIMAL(38,10)))
        OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
      / COUNT(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      / 100.0, 6) AS mean_7d,
    isodow(d) AS isodow
  FROM daily WINDOW w AS (ORDER BY d))
SELECT d, ROUND(y / 100.0, 2) AS y,
  ROUND(lag_1 / 100.0, 2) AS lag_1,
  ROUND(lag_7 / 100.0, 2) AS lag_7,
  ROUND(lag_14 / 100.0, 2) AS lag_14,
  ROUND(lag_28 / 100.0, 2) AS lag_28,
  mean_7d, isodow,
  ROUND((y - lag_7) / 100.0, 2) AS target_wow
FROM feat WHERE lag_28 IS NOT NULL ORDER BY d
"""


def q_bucketed_percentile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-percentile accuracy audit (the quantileTiming
    trade-off): ship delay (receipt-free proxy: shipdate − orderdate
    days) p50/p90/p99 computed (a) EXACTLY via order statistics and (b)
    from a 64-bucket fixed-width histogram with linear interpolation —
    reporting both and the error in days. The histogram path is the
    O(64)-state mergeable shape a 100 TB rollup would persist; the
    exact path costs a sort. Integer day delays make the exact side
    hash-trivial; the interpolated estimate is a fixed IEEE chain.
    Sketch dual: ship_delay_quantile_sketch (approx_percentile, the
    named 100 TB path)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    delays = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("delay")
    ).localCheckpoint(eager=True)
    n = delays.count()
    qs_ = [(50, 0.50), (90, 0.90), (99, 0.99)]
    # exact: k-th order statistic at ceil(q*n), computed DISTRIBUTED as
    # "min delay whose cumulative count >= k" over the per-value count
    # aggregate — delays are integer days with a schema-bounded domain
    # (shipdate − orderdate ∈ [1, 121] in TPC-H), so the cumulative
    # window rides a <=122-row frame, never the fact table
    vc = delays.groupBy("delay").agg(F.count("*").alias("c"))
    wv = Window.orderBy("delay").rowsBetween(Window.unboundedPreceding, 0)
    cumv = vc.withColumn("cumc", F.sum("c").over(wv)).localCheckpoint(eager=True)
    exact = None
    for label, q in qs_:
        k = int(q * n) if (q * n).is_integer() else int(q * n) + 1
        pick = (
            cumv.filter(F.col("cumc") >= max(k, 1))
            .orderBy("delay")
            .limit(1)
            .select(F.lit(label).alias("p"), F.col("delay").alias("exact_days"))
        )
        exact = pick if exact is None else exact.unionByName(pick)
    # histogram: 64 buckets over [min, max]
    rng = delays.agg(
        F.min("delay").alias("lo"), F.max("delay").alias("hi")
    )
    hist = (
        delays.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.floor(
                    (F.col("delay") - F.col("lo")).cast("double")
                    / (F.col("hi") - F.col("lo")) * 64
                ).cast("int"),
                F.lit(63),
            ).alias("b"),
            "lo", "hi",
        )
        .groupBy("b", "lo", "hi")
        .agg(F.count("*").alias("c"))
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(wcum)).localCheckpoint(eager=True)
    est = None
    for label, q in qs_:
        target = q * n
        first_ge = (
            cum.filter(F.col("cum") >= F.lit(target))
            .orderBy("b")
            .limit(1)
            .select(
                F.lit(label).alias("p"),
                F.round(
                    F.col("lo")
                    + (F.col("b")
                       + (F.lit(target) - (F.col("cum") - F.col("c")))
                       / F.col("c"))
                    * (F.col("hi") - F.col("lo")) / 64.0,
                    6,
                ).alias("hist_days"),
            )
        )
        est = first_ge if est is None else est.unionByName(first_ge)
    return (
        exact.join(est, "p")
        .select(
            "p",
            F.col("exact_days").cast("bigint").alias("exact_days"),
            "hist_days",
            F.round(F.abs(F.col("hist_days") - F.col("exact_days")), 6)
            .alias("abs_err_days"),
        )
        .orderBy("p")
    )


_BUCKETED_PCTL_SQL = """
WITH delays AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
    AS delay
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nn AS (SELECT COUNT(*) AS n FROM delays),
ranked AS (
  SELECT delay, ROW_NUMBER() OVER (ORDER BY delay) AS rn FROM delays),
exact AS (
  SELECT p, delay AS exact_days FROM (
    SELECT 50 AS p,
      CAST(CASE WHEN 0.50 * n = FLOOR(0.50 * n) THEN 0.50 * n
           ELSE FLOOR(0.50 * n) + 1 END AS BIGINT) AS k FROM nn
    UNION ALL
    SELECT 90,
      CAST(CASE WHEN 0.90 * n = FLOOR(0.90 * n) THEN 0.90 * n
           ELSE FLOOR(0.90 * n) + 1 END AS BIGINT) FROM nn
    UNION ALL
    SELECT 99,
      CAST(CASE WHEN 0.99 * n = FLOOR(0.99 * n) THEN 0.99 * n
           ELSE FLOOR(0.99 * n) + 1 END AS BIGINT) FROM nn) ks
  JOIN ranked ON rn = GREATEST(k, 1)),
rng AS (SELECT MIN(delay) AS lo, MAX(delay) AS hi FROM delays),
hist AS (
  SELECT LEAST(CAST(FLOOR(CAST(delay - lo AS DOUBLE) / (hi - lo) * 64) AS INT),
               63) AS b,
    lo, hi, COUNT(*) AS c
  FROM delays CROSS JOIN rng GROUP BY 1, 2, 3),
cum AS (
  SELECT *, SUM(c) OVER (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
est AS (
  SELECT p, hist_days FROM (
    SELECT q.p, q.target,
      ROUND(lo + (b + (q.target - (cum - c)) / c) * (hi - lo) / 64.0, 6)
        AS hist_days,
      ROW_NUMBER() OVER (PARTITION BY q.p ORDER BY b) AS pick
    FROM cum
    JOIN (SELECT 50 AS p, 0.50 * n AS target FROM nn
          UNION ALL SELECT 90, 0.90 * n FROM nn
          UNION ALL SELECT 99, 0.99 * n FROM nn) q
      ON cum >= q.target) z
  WHERE pick = 1)
SELECT exact.p AS p, CAST(exact_days AS BIGINT) AS exact_days, hist_days,
  ROUND(ABS(hist_days - exact_days), 6) AS abs_err_days
FROM exact JOIN est ON exact.p = est.p
ORDER BY exact.p
"""


def q_dp_noise_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release calibration: per-nation customer
    counts through the Laplace mechanism (ε=1, sensitivity 1), with the
    noise drawn from a DETERMINISTIC md5-hash uniform (the privacy
    engineer's repro harness — swap the hash for a CSPRNG in
    production). Inverse-CDF: noise = −b·sign(u−½)·ln(1−2|u−½|).
    Reports true vs released counts and the absolute error the ε buys.
    One aggregation; noise is row-local scalar math on 25 rows."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per = (
        c.groupBy("c_nationkey")
        .agg(F.count("*").alias("true_count"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    u = (
        F.conv(F.substring(F.md5(F.col("n_nationkey").cast("string")), 1, 13), 16, 10)
        .cast("double") / F.lit(float(16 ** 13))
    )
    centered = u - 0.5
    b = 1.0  # sensitivity/epsilon
    noise = -b * F.signum(centered) * F.log(1.0 - 2.0 * F.abs(centered))
    released = F.greatest(F.round(F.col("true_count") + noise, 0), F.lit(0.0))
    return per.select(
        "n_name",
        F.col("true_count").cast("bigint").alias("true_count"),
        F.round(noise, 6).alias("noise"),
        released.cast("bigint").alias("released_count"),
        F.abs(released.cast("bigint") - F.col("true_count"))
        .cast("bigint").alias("abs_err"),
    ).orderBy("n_name")


_DP_NOISE_SQL = """
WITH per AS (
  SELECT n_name, n_nationkey, COUNT(*) AS true_count
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
noised AS (
  SELECT n_name, true_count,
    -1.0 * SIGN(('0x' || substr(md5(CAST(n_nationkey AS VARCHAR)), 1, 13))::BIGINT
                / CAST(POWER(16, 13) AS DOUBLE) - 0.5)
      * LN(1.0 - 2.0 * ABS(('0x' || substr(md5(CAST(n_nationkey AS VARCHAR)), 1, 13))::BIGINT
                           / CAST(POWER(16, 13) AS DOUBLE) - 0.5)) AS noise
  FROM per)
SELECT n_name, CAST(true_count AS BIGINT) AS true_count,
  ROUND(noise, 6) AS noise,
  CAST(GREATEST(ROUND(true_count + noise, 0), 0.0) AS BIGINT) AS released_count,
  CAST(ABS(CAST(GREATEST(ROUND(true_count + noise, 0), 0.0) AS BIGINT)
           - true_count) AS BIGINT) AS abs_err
FROM noised ORDER BY n_name
"""


def q_quantile_normalization_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document-length
    distributions onto the pooled distribution (the cross-batch
    harmonization trick from genomics, applied to corpus shards):
    each doc's length maps to the pooled order statistic at its
    within-source quantile, idx = ceil(rank·N/n_s). Reports per source
    the before/after mean lengths — after normalization every shard
    sees the same distribution. The pooled rank is the DISTRIBUTED
    global row_number (operators/ranking: range-partitioned sort +
    broadcast partition offsets — no single-partition window); the
    per-source rank is the distributed GROUPED row_number (a window
    partitioned by the source enum would fan the corpus into ≤|sources|
    tasks) with broadcast per-source totals; one index equi-join
    (never a distribution-wide broadcast)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select("source", "doc_id", TX.token_count(F.col("text")).alias("len"))
    pooled = RK.global_row_number(
        per.select("len", "doc_id"), ["len", "doc_id"], col_name="rn"
    ).select("rn", F.col("len").alias("pooled_len"))
    n_total = pooled.count()
    rked = RK.grouped_row_number(
        per, ["source"], ["len", "doc_id"], col_name="rs"
    )
    totals = rked.groupBy("source").agg(F.count("*").alias("ns"))
    ranked = rked.join(F.broadcast(totals), "source")
    idx = F.ceil(F.col("rs").cast("double") * n_total / F.col("ns")).cast("int")
    mapped = ranked.withColumn("rn", idx).join(pooled, "rn")
    return (
        mapped.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("len").cast("decimal(38,10)")).cast("double")
                / F.count("*"), 6,
            ).alias("mean_len_before"),
            F.round(
                F.sum(F.col("pooled_len").cast("decimal(38,10)")).cast("double")
                / F.count("*"), 6,
            ).alias("mean_len_after"),
            F.min("pooled_len").cast("bigint").alias("min_after"),
            F.max("pooled_len").cast("bigint").alias("max_after"),
        )
        .orderBy("source")
    )


_QNORM_SQL = f"""
WITH per AS (
  SELECT source, doc_id, len({_TOKS_SQL}) AS len FROM documents),
pooled AS (
  SELECT ROW_NUMBER() OVER (ORDER BY len, doc_id) AS rn,
    len AS pooled_len
  FROM per),
nn AS (SELECT COUNT(*) AS n FROM per),
ranked AS (
  SELECT source, len,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY len, doc_id) AS rs,
    COUNT(*) OVER (PARTITION BY source) AS ns
  FROM per),
mapped AS (
  SELECT source, len, pooled_len
  FROM ranked, nn
  JOIN pooled
    ON pooled.rn = CAST(CEIL(CAST(rs AS DOUBLE) * n / ns) AS INT))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  ROUND(CAST(SUM(CAST(len AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
    AS mean_len_before,
  ROUND(CAST(SUM(CAST(pooled_len AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
    AS mean_len_after,
  CAST(MIN(pooled_len) AS BIGINT) AS min_after,
  CAST(MAX(pooled_len) AS BIGINT) AS max_after
FROM mapped GROUP BY source ORDER BY source
"""


def q_changepoint_binseg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary segmentation changepoint on daily revenue:
    the split day t* maximizing the scaled mean-shift statistic
    sqrt(k(n−k)/n)·|mean_left − mean_right| — the complement of CUSUM
    (which flags drift; this NAMES the break). Prefix sums from one
    ordered window give every candidate split in one pass; means are
    exact-decimal sums divided once, so the argmax is hash-stable
    (ties break on earliest day). Emits the chosen split with both
    segment means and the statistic."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    w = Window.orderBy("d")
    wall = Window.partitionBy()
    pre = daily.select(
        "d",
        F.row_number().over(w).alias("k"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("double").alias("pk"),
    ).withColumn("n", F.count("*").over(wall)).withColumn(
        "tot", F.max(F.col("pk")).over(wall)
    )
    k, n = F.col("k").cast("double"), F.col("n").cast("double")
    mean_l = F.col("pk") / k
    mean_r = (F.col("tot") - F.col("pk")) / (n - k)
    stat = F.sqrt(k * (n - k) / n) * F.abs(mean_l - mean_r)
    cand = pre.filter(F.col("k") < F.col("n")).select(
        "d",
        F.col("k").cast("bigint").alias("split_k"),
        F.round((mean_l / 100.0), 6).alias("mean_before"),
        F.round((mean_r / 100.0), 6).alias("mean_after"),
        F.round(stat, 6).alias("stat"),
    )
    return cand.orderBy(F.desc("stat"), "d").limit(1)


_BINSEG_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
pre AS (
  SELECT d,
    ROW_NUMBER() OVER (ORDER BY d) AS k,
    CAST(SUM(CAST(cents AS DECIMAL(38,0))) OVER (ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS pk
  FROM daily),
ext AS (
  SELECT *, COUNT(*) OVER () AS n, MAX(pk) OVER () AS tot FROM pre),
cand AS (
  SELECT d, CAST(k AS BIGINT) AS split_k,
    ROUND(pk / k / 100.0, 6) AS mean_before,
    ROUND((tot - pk) / (n - k) / 100.0, 6) AS mean_after,
    ROUND(SQRT(CAST(k AS DOUBLE) * (n - k) / n)
          * ABS(pk / k - (tot - pk) / (n - k)), 6) AS stat
  FROM ext WHERE k < n)
SELECT * FROM cand ORDER BY stat DESC, d LIMIT 1
"""


def q_seasonal_strength_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength diagnostics (Hyndman's F_s): after the classical
    decomposition (centered 7-day trend, weekday seasonal, residual),
    F_s = max(0, 1 − Var(resid)/Var(seasonal+resid)) and the trend
    twin F_t = max(0, 1 − Var(resid)/Var(trend+resid)) — the two
    numbers that say whether the forecaster should carry weekly
    seasonality and trend terms at all. Components round to 1e-6 (the
    decompose query's contract) and the variances are decimal power
    sums of those rounded values — order-free and hash-exact."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"), 2
        ).alias("y")
    )
    wtrend = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn("n_win", F.count("*").over(wtrend)).withColumn(
        "trend",
        F.round(
            F.sum(F.col("y").cast("decimal(38,10)")).over(wtrend).cast("double")
            / F.col("n_win"),
            6,
        ),
    )
    detr = trended.withColumn("dt", F.round(F.col("y") - F.col("trend"), 6))
    dow_means = (
        detr.groupBy((F.weekday("day") + F.lit(1)).alias("isodow"))
        .agg(
            F.round(
                F.sum(F.col("dt").cast("decimal(38,10)")).cast("double")
                / F.count("*"),
                6,
            ).alias("s_raw")
        )
    )
    grand = dow_means.agg(
        F.round(
            F.sum(F.col("s_raw").cast("decimal(38,10)")).cast("double")
            / F.count("*"),
            6,
        ).alias("g")
    )
    season = dow_means.crossJoin(F.broadcast(grand)).select(
        "isodow", F.round(F.col("s_raw") - F.col("g"), 6).alias("seasonal")
    )
    full = detr.join(
        F.broadcast(season), (F.weekday("day") + 1) == F.col("isodow")
    ).select(
        "day",
        "seasonal",
        F.col("trend"),
        F.round(F.col("y") - F.col("trend") - F.col("seasonal"), 6).alias("resid"),
    )
    d10 = lambda c: c.cast("decimal(38,10)")  # noqa: E731
    var_of = lambda c: (  # decimal power sums -> double variance  # noqa: E731
        F.sum(d10(c) * d10(c)).cast("double") / F.count("*")
        - (F.sum(d10(c)).cast("double") / F.count("*"))
        * (F.sum(d10(c)).cast("double") / F.count("*"))
    )
    agg = full.agg(
        F.count("*").alias("n_days"),
        var_of(F.col("resid")).alias("vr"),
        var_of(F.col("seasonal") + F.col("resid")).alias("vsr"),
        var_of(F.col("trend") + F.col("resid")).alias("vtr"),
    )
    return agg.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vsr")), 6)
        .alias("seasonal_strength"),
        F.round(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vtr")), 6)
        .alias("trend_strength"),
    )


_SEASONAL_STRENGTH_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS y
  FROM orders GROUP BY 1),
trended AS (
  SELECT day, y,
    ROUND(CAST(SUM(CAST(y AS DECIMAL(38,10))) OVER w AS DOUBLE)
          / COUNT(*) OVER w, 6) AS trend
  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
detr AS (
  SELECT *, ROUND(y - trend, 6) AS dt FROM trended),
dow_means AS (
  SELECT isodow(CAST(day AS DATE)) AS isodow,
    ROUND(CAST(SUM(CAST(dt AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6) AS s_raw
  FROM detr GROUP BY 1),
grand AS (
  SELECT ROUND(CAST(SUM(CAST(s_raw AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
    AS g
  FROM dow_means),
season AS (
  SELECT isodow, ROUND(s_raw - g, 6) AS seasonal
  FROM dow_means CROSS JOIN grand),
full_t AS (
  SELECT ROUND(y - trend - seasonal, 6) AS resid, seasonal, trend
  FROM detr JOIN season ON isodow(CAST(day AS DATE)) = season.isodow),
agg AS (
  SELECT COUNT(*) AS n_days,
    CAST(SUM(CAST(resid AS DECIMAL(38,10)) * CAST(resid AS DECIMAL(38,10)))
         AS DOUBLE) / COUNT(*)
      - (CAST(SUM(CAST(resid AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*))
        * (CAST(SUM(CAST(resid AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*)) AS vr,
    CAST(SUM(CAST(seasonal + resid AS DECIMAL(38,10))
             * CAST(seasonal + resid AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*)
      - (CAST(SUM(CAST(seasonal + resid AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*))
        * (CAST(SUM(CAST(seasonal + resid AS DECIMAL(38,10))) AS DOUBLE)
           / COUNT(*)) AS vsr,
    CAST(SUM(CAST(trend + resid AS DECIMAL(38,10))
             * CAST(trend + resid AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*)
      - (CAST(SUM(CAST(trend + resid AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*))
        * (CAST(SUM(CAST(trend + resid AS DECIMAL(38,10))) AS DOUBLE)
           / COUNT(*)) AS vtr
  FROM full_t)
SELECT CAST(n_days AS BIGINT) AS n_days,
  ROUND(GREATEST(0.0, 1.0 - vr / vsr), 6) AS seasonal_strength,
  ROUND(GREATEST(0.0, 1.0 - vr / vtr), 6) AS trend_strength
FROM agg
"""


def q_brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per part brand: log-log OLS of
    quantity on effective price factor (1 − discount) over line items —
    the econometric read of the discount ladder (elasticity < 0 means
    discounts move volume). Log terms round to 1e-9 and every OLS sum
    is a decimal accumulation of those rounded values, so the per-brand
    fold is partition-order-free; the slope algebra runs once per
    brand. Top-10 brands by support."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    x = F.round(F.log(1.0 - F.col("l_discount")), 9)
    y = F.round(F.log(F.col("l_quantity")), 9)
    # (19,9) operands: their product is decimal(38,18) — the widest shape
    # BOTH engines keep exact (28,12)x(28,12) would overflow 38 digits and
    # each engine truncates the scale differently (the stats_moments lesson)
    d18 = lambda c: c.cast("decimal(19,9)")  # noqa: E731
    per = j.select(F.col("p_brand").alias("brand"), x.alias("x"), y.alias("y"))
    agg = per.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum(d18(F.col("x"))).cast("double").alias("sx"),
        F.sum(d18(F.col("y"))).cast("double").alias("sy"),
        F.sum(d18(F.col("x")) * d18(F.col("x"))).cast("double").alias("sxx"),
        F.sum(d18(F.col("x")) * d18(F.col("y"))).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return (
        agg.select(
            "brand",
            F.col("n").cast("bigint").alias("n_lines"),
            F.round(slope, 6).alias("elasticity"),
            F.round(intercept, 6).alias("log_base_qty"),
        )
        .orderBy(F.desc("n_lines"), "brand")
        .limit(10)
    )


_ELASTICITY_SQL = """
WITH per AS (
  SELECT p_brand AS brand,
    ROUND(LN(1.0 - l_discount), 9) AS x,
    ROUND(LN(l_quantity), 9) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey),
agg AS (
  SELECT brand, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(19,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(19,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(19,9)) * CAST(x AS DECIMAL(19,9))) AS DOUBLE)
      AS sxx,
    CAST(SUM(CAST(x AS DECIMAL(19,9)) * CAST(y AS DECIMAL(19,9))) AS DOUBLE)
      AS sxy
  FROM per GROUP BY brand)
SELECT brand, CAST(n AS BIGINT) AS n_lines,
  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
    AS log_base_qty
FROM agg ORDER BY n_lines DESC, brand LIMIT 10
"""


def q_wasserstein_shard_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between each source
    shard's document-length distribution and the pooled corpus — the
    drift metric that catches a crawler or filter change shifting a
    shard's length profile. Exact discrete W1 via quantile alignment:
    shard rank r maps to pooled order statistic ceil(r·N/n_s) (the
    quantile-normalization index) and W1 = mean |len − pooled_len| —
    integer token counts make the metric hash-exact. Pooled rank =
    distributed global row_number (operators/ranking, range-partitioned
    + broadcast offsets); per-source rank = partitioned window; one
    index equi-join; nothing corpus-wide broadcasts or single-tasks. The
    per-source rank is the distributed GROUPED row_number (the source
    enum would fan the corpus into ≤|sources| tasks under a plain
    partitioned window) with broadcast per-source totals."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select("source", "doc_id", TX.token_count(F.col("text")).alias("len"))
    pooled = RK.global_row_number(
        per.select("len", "doc_id"), ["len", "doc_id"], col_name="rn"
    ).select("rn", F.col("len").alias("pooled_len"))
    n_total = pooled.count()
    rked = RK.grouped_row_number(
        per, ["source"], ["len", "doc_id"], col_name="rs"
    )
    totals = rked.groupBy("source").agg(F.count("*").alias("ns"))
    ranked = rked.join(F.broadcast(totals), "source")
    idx = F.ceil(F.col("rs").cast("double") * n_total / F.col("ns")).cast("int")
    mapped = ranked.withColumn("rn", idx).join(pooled, "rn")
    return (
        mapped.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.abs(F.col("len") - F.col("pooled_len")))
            .cast("bigint").alias("total_moved_tokens"),
        )
        .withColumn(
            "w1_ppm_tokens",
            F.expr("total_moved_tokens * 1000000 div n_docs").cast("bigint"),
        )
        .orderBy(F.desc("w1_ppm_tokens"), "source")
    )


_WASSERSTEIN_SQL = f"""
WITH per AS (
  SELECT source, doc_id, len({_TOKS_SQL}) AS len FROM documents),
pooled AS (
  SELECT ROW_NUMBER() OVER (ORDER BY len, doc_id) AS rn, len AS pooled_len
  FROM per),
nn AS (SELECT COUNT(*) AS n FROM per),
ranked AS (
  SELECT source, len,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY len, doc_id) AS rs,
    COUNT(*) OVER (PARTITION BY source) AS ns
  FROM per),
mapped AS (
  SELECT source, len, pooled_len
  FROM ranked, nn
  JOIN pooled ON pooled.rn = CAST(CEIL(CAST(rs AS DOUBLE) * n / ns) AS INT))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(ABS(len - pooled_len)) AS BIGINT) AS total_moved_tokens,
  CAST(SUM(ABS(len - pooled_len)) * 1000000 // COUNT(*) AS BIGINT)
    AS w1_ppm_tokens
FROM mapped GROUP BY source
ORDER BY w1_ppm_tokens DESC, source
"""


def q_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter, local-level model (random walk + observation
    noise; q=1e10, r=1e12 cents², fixed) over daily revenue — the
    probabilistic smoother the forecasting family lacked: predict-var,
    gain K = P/(P+r), filtered level, posterior variance per step. The
    recurrence is BIT-EXACT across engines (applyInPandas vs recursive
    CTE, identical IEEE op order — the croston/theta contract, no
    rounding slack); output is the last 30 filtered days plus gain and
    ±95% band. One task per series at scale (the forecaster's
    partitioning)."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    q_var, r_var = 1e10, 1e12

    def _kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        out = {"d": [], "y": [], "level": [], "gain": [], "band": []}
        level = var = None
        for i in range(len(pdf)):
            y = float(pdf["cents"][i])
            if level is None:
                level, var = y, r_var
            else:
                pvar = var + q_var
                k = pvar / (pvar + r_var)
                level = level + k * (y - level)
                var = (1.0 - k) * pvar
                out_k = k
            import math

            out["d"].append(pdf["d"][i])
            out["y"].append(y / 100.0)
            out["level"].append(level / 100.0)
            out["gain"].append(0.0 if i == 0 else out_k)
            # math.sqrt is IEEE-correctly-rounded like SQL SQRT; x**0.5
            # routes through pow() and is NOT guaranteed bit-identical
            out["band"].append(1.959963984540054 * math.sqrt(var) / 100.0)
        return pd.DataFrame(out).tail(30)

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: _kalman(pdf),
            "d date, y double, level double, gain double, band double",
        )
        .orderBy("d")
    )


_KALMAN_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1),
idx AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, d, y FROM daily),
kf(rn, d, y, level, var, gain) AS (
  SELECT rn, d, CAST(y AS DOUBLE), CAST(y AS DOUBLE), 1e12,
    CAST(0.0 AS DOUBLE)
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.d, CAST(i.y AS DOUBLE),
    k.level + ((k.var + 1e10) / ((k.var + 1e10) + 1e12))
      * (CAST(i.y AS DOUBLE) - k.level),
    (1.0 - (k.var + 1e10) / ((k.var + 1e10) + 1e12)) * (k.var + 1e10),
    (k.var + 1e10) / ((k.var + 1e10) + 1e12)
  FROM kf k JOIN idx i ON i.rn = k.rn + 1),
nn AS (SELECT MAX(rn) AS n FROM idx)
SELECT d, y / 100.0 AS y, level / 100.0 AS level, gain,
  1.959963984540054 * SQRT(var) / 100.0 AS band
FROM kf, nn WHERE rn > n - 30 ORDER BY d
"""


def q_lttb_downsample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013 —
    ClickHouse ships it as ``largestTriangleThreeBuckets``), completing
    the M4 pair: first/last anchored, 25 interior buckets, each
    selecting the point maximizing the triangle area with the PREVIOUS
    selection and the NEXT bucket's average — the perceptually-best
    27-point rendition of the daily series. The selection chain is
    inherently sequential, so Spark runs it in one applyInPandas task
    over the day rollup (the croston/theta contract) while the oracle
    replays the identical IEEE area argmax in a recursive CTE — exact
    doubles, exact ties (lowest day wins), no rounding slack in the
    selection."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    B_INNER = 25

    def _lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        xs = list(range(1, len(pdf) + 1))
        ys = [int(v) for v in pdf["cents"]]
        n = len(xs)
        bucket_of = lambda rn: (  # noqa: E731
            0 if rn == 1 else (B_INNER + 1 if rn == n
                               else 1 + (rn - 2) * B_INNER // (n - 2))
        )
        members = {}
        for rn in xs:
            members.setdefault(bucket_of(rn), []).append(rn)
        avgs = {
            b: (sum(m) / len(m), sum(ys[rn - 1] for rn in m) / len(m))
            for b, m in members.items()
        }
        sel = [(1, float(xs[0]), float(ys[0]))]
        for k in range(1, B_INNER + 1):
            sx, sy = sel[-1][1], sel[-1][2]
            ax, ay = avgs[k + 1]
            best = None
            for rn in members[k]:
                x, y = float(rn), float(ys[rn - 1])
                area2 = abs((sx - ax) * (y - sy) - (sx - x) * (ay - sy))
                if best is None or area2 > best[0]:
                    best = (area2, rn, x, y)
            sel.append((best[1], best[2], best[3]))
        sel.append((n, float(n), float(ys[-1])))
        out = pd.DataFrame(
            {
                "k": list(range(len(sel))),
                "d": [pdf["d"][rn - 1] for rn, _, _ in sel],
                "revenue": [round(y / 100.0, 2) for _, _, y in sel],
            }
        )
        return out

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: _lttb(pdf), "k int, d date, revenue double"
        )
        .orderBy("k")
    )


def _lttb_area_sql(p: str, a: str) -> str:
    """Triangle-area×2 between the running selection (s.sx, s.sy), a
    candidate point alias `p`, and a next-bucket average alias `a` —
    ONE expression string so the argmax and its MAX twin can't drift."""
    return (
        f"ABS((s.sx - {a}.ax) * (CAST({p}.y AS DOUBLE) - s.sy)"
        f" - (s.sx - CAST({p}.x AS DOUBLE)) * ({a}.ay - s.sy))"
    )


_LTTB_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn, d, cents FROM daily),
nn AS (SELECT COUNT(*) AS n FROM idx),
bk AS (
  SELECT rn AS x, cents AS y, d,
    CASE WHEN rn = 1 THEN 0 WHEN rn = n THEN 26
         ELSE 1 + (rn - 2) * 25 // (n - 2) END AS b
  FROM idx, nn),
avgs AS (
  SELECT b, CAST(SUM(x) AS DOUBLE) / COUNT(*) AS ax,
    CAST(SUM(y) AS DOUBLE) / COUNT(*) AS ay
  FROM bk GROUP BY b),
sel(k, srn, sx, sy) AS (
  SELECT 0, x, CAST(x AS DOUBLE), CAST(y AS DOUBLE) FROM bk WHERE b = 0
  UNION ALL
  SELECT s.k + 1,
    (SELECT MIN(p.rn) FROM (SELECT x AS rn, x, y, b FROM bk) p, avgs a
      WHERE p.b = s.k + 1 AND a.b = s.k + 2
        AND {_lttb_area_sql('p', 'a')} =
          (SELECT MAX({_lttb_area_sql('p', 'a')})
           FROM (SELECT x AS rn, x, y, b FROM bk) p, avgs a
           WHERE p.b = s.k + 1 AND a.b = s.k + 2)),
    (SELECT CAST(x AS DOUBLE) FROM bk p2, avgs a2
      WHERE a2.b = s.k + 2 AND p2.b = s.k + 1
        AND {_lttb_area_sql('p2', 'a2')} =
          (SELECT MAX({_lttb_area_sql('p', 'a')})
           FROM (SELECT x AS rn, x, y, b FROM bk) p, avgs a
           WHERE p.b = s.k + 1 AND a.b = s.k + 2)
      ORDER BY p2.x LIMIT 1),
    (SELECT CAST(y AS DOUBLE) FROM bk p2, avgs a2
      WHERE a2.b = s.k + 2 AND p2.b = s.k + 1
        AND {_lttb_area_sql('p2', 'a2')} =
          (SELECT MAX({_lttb_area_sql('p', 'a')})
           FROM (SELECT x AS rn, x, y, b FROM bk) p, avgs a
           WHERE p.b = s.k + 1 AND a.b = s.k + 2)
      ORDER BY p2.x LIMIT 1)
  FROM sel s WHERE s.k < 25)
SELECT k, d, revenue FROM (
  SELECT s.k AS k, bk.d, ROUND(bk.y / 100.0, 2) AS revenue
  FROM sel s JOIN bk ON bk.x = s.srn
  UNION ALL
  SELECT 26, bk.d, ROUND(bk.y / 100.0, 2) FROM bk WHERE b = 26)
ORDER BY k
"""


def q_time_decayed_value_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``exponentialTimeDecayedAvg`` parity: per event type,
    the exponentially time-decayed average of value at the stream's
    final timestamp (τ = 7 days) — recency-weighted engagement without
    a window cutoff. Each row's weight exp(−Δt/τ) rounds to 1e-12 and
    both the weighted-value and weight sums accumulate as decimals, so
    the fold is partition-order-free; one aggregation after a broadcast
    of the global max timestamp."""
    ev = _t(spark, sf_dir, "events")
    tmax = ev.agg(F.max("ts").alias("tmax"))
    tau_us = 7.0 * 86400.0 * 1e6
    j = ev.crossJoin(F.broadcast(tmax))
    wgt = F.round(
        F.exp(
            -(F.unix_micros("tmax") - F.unix_micros("ts")).cast("double") / tau_us
        ),
        12,
    )
    term = F.round(wgt * F.round(F.col("value"), 6), 12)
    d = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(d(term)).cast("double") / F.sum(d(wgt)).cast("double"), 6
            ).alias("decayed_avg"),
            F.round(F.sum(d(wgt)).cast("double"), 6).alias("effective_n"),
        )
        .orderBy("event_type")
    )


_EXP_DECAY_SQL = """
WITH tm AS (SELECT MAX(ts) AS tmax FROM events),
w AS (
  SELECT event_type,
    ROUND(EXP(-CAST(epoch_us(tmax) - epoch_us(ts) AS DOUBLE)
              / (7.0 * 86400.0 * 1e6)), 12) AS wgt,
    ROUND(value, 6) AS v
  FROM events, tm)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  ROUND(CAST(SUM(CAST(ROUND(wgt * v, 12) AS DECIMAL(38,12))) AS DOUBLE)
        / CAST(SUM(CAST(wgt AS DECIMAL(38,12))) AS DOUBLE), 6) AS decayed_avg,
  ROUND(CAST(SUM(CAST(wgt AS DECIMAL(38,12))) AS DOUBLE), 6) AS effective_n
FROM w GROUP BY event_type ORDER BY event_type
"""


