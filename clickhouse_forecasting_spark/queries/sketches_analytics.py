# sketch rollups + analytics waves (graph, drift, eval)
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, completed): it
# imports its dependencies explicitly; __init__.py merges its names
# into the shared package namespace so the registry and cross-family
# consumers see them exactly as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import similarity as SIM
from ..functions import text as TX
from ..operators import ranking as RK
from .catalog_relational import _dsum, _dsum_cents, _t
from .shared_fragments import _EMB_DIM
from .text_analysis import _TOKS_SQL
# --------------------------------------------------------------------------
# mergeable-sketch rollups (Apache DataSketches built-ins, Spark 3.5+/4.x)
#
# THE 100 TB aggregation pattern: sketches are mergeable partial aggregates,
# so coarse grains (month, total) are computed by unioning the fine-grain
# sketch column — no second scan of the fact table, and a pre-aggregated
# sketch table is ~KB per group regardless of row count.
# --------------------------------------------------------------------------


def q_sketch_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user HLL sketches unioned into a total WITHOUT
    rescanning events: one scan builds per-day sketches; the total grain
    merges 30 sketch blobs (bytes, not rows). Estimates are deterministic
    (hash registers + pointwise-max merge, no RNG)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    # the HLL estimate itself is engine-specific, so the hashable surface
    # is the exact count plus an in-query 5% tolerance verdict on the
    # estimate (the approx_distinct_users pattern): if the sketch or the
    # merge ever drifts out of bound the verdict flips and the oracle
    # hash catches it.
    ok = lambda est, exact: (  # noqa: E731
        F.abs(est - exact) <= 0.05 * exact
    ).alias("approx_within_5pct")
    per_day = daily.select(
        F.lit("day").alias("grain"),
        F.col("day").cast("string").alias("key"),
        "exact_users",
        "n_events",
        ok(F.hll_sketch_estimate("sk"), F.col("exact_users")),
    )
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    total = (
        daily.agg(
            F.hll_union_agg("sk").alias("sk"), F.sum("n_events").alias("n_events")
        )
        .crossJoin(F.broadcast(exact_total))
        .select(
            F.lit("total").alias("grain"),
            F.lit("ALL").alias("key"),
            "exact_users",
            "n_events",
            ok(F.hll_sketch_estimate("sk"), F.col("exact_users")),
        )
    )
    return per_day.unionByName(total)


_SKETCH_ROLLUP_SQL = """
SELECT 'day' AS grain, CAST(CAST(ts AS DATE) AS VARCHAR) AS key,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  TRUE AS approx_within_5pct
FROM events GROUP BY 2
UNION ALL
SELECT 'total', 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT),
  CAST(COUNT(*) AS BIGINT), TRUE
FROM events
"""


def q_sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches of event value per event_type, merged into a
    global grain from the per-type sketches. p50/p90/p99 come out of the
    sketch, rank error ~1.7% at default k — the streaming/distributed
    replacement for exact percentile sorts."""
    ev = _t(spark, sf_dir, "events")
    # hashable surface = the exact interpolated percentiles (the
    # percentiles_by_segment pairing) plus in-query verdicts that each
    # KLL quantile lands inside the exact ±5%-rank window — sketch
    # estimates themselves are engine-specific. The verdicts are
    # Spark-internal assertions (the oracle emits TRUE), so a sketch
    # regression flips a hashed boolean.
    exact_aggs = [
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    ]
    bound_exprs = {
        "p50": ("percentile(value, 0.45)", "percentile(value, 0.55)"),
        "p90": ("percentile(value, 0.85)", "percentile(value, 0.95)"),
        "p99": ("percentile(value, 0.94)", "percentile(value, 1.0)"),
    }
    bound_aggs = [
        F.expr(e).alias(f"{name}_{side}")
        for name, (lo, hi) in bound_exprs.items()
        for side, e in (("lo", lo), ("hi", hi))
    ]
    per_type = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk"), *exact_aggs, *bound_aggs
    )
    merged_sk = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk")
    ).agg(F.kll_merge_agg_double("sk").alias("sk"))
    merged = (
        ev.agg(*exact_aggs, *bound_aggs).crossJoin(F.broadcast(merged_sk))
    )

    def _verdicts(df: DataFrame, key: F.Column) -> DataFrame:
        cols = [key.alias("event_type"), "n", "p50", "p90", "p99"]
        for name, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            est = F.kll_sketch_get_quantile_double("sk", F.lit(q))
            cols.append(
                (
                    (est >= F.col(f"{name}_lo")) & (est <= F.col(f"{name}_hi"))
                ).alias(f"{name}_within_rank_tol")
            )
        return df.select(*cols)

    return _verdicts(per_type, F.col("event_type")).unionByName(
        _verdicts(merged, F.lit("ALL"))
    )


_SKETCH_QUANTILES_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.9), 6) AS p90,
  round(quantile_cont(value, 0.99), 6) AS p99,
  TRUE AS p50_within_rank_tol, TRUE AS p90_within_rank_tol,
  TRUE AS p99_within_rank_tol
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
  round(quantile_cont(value, 0.5), 6), round(quantile_cont(value, 0.9), 6),
  round(quantile_cont(value, 0.99), 6), TRUE, TRUE, TRUE
FROM events
"""


def q_sketch_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retained users via Theta sketch set intersection:
    per-week sketches of user_id, consecutive weeks paired, intersection
    estimated. Below the sketch's nominal-entries threshold estimates are
    exact, so the DuckDB oracle (exact self-join intersection) hash-matches
    at fixture scale; at 100 TB the same plan degrades gracefully to
    bounded-error estimates instead of a quadratic users-join."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start")
    ).agg(F.theta_sketch_agg("user_id").alias("sk"))
    a, b = weekly.alias("a"), weekly.alias("b")
    paired = a.join(
        b, F.date_add(F.col("a.week_start"), 7) == F.col("b.week_start")
    )
    return paired.select(
        F.col("a.week_start").alias("week_start"),
        F.col("b.week_start").alias("next_week_start"),
        F.theta_sketch_estimate(F.col("a.sk")).cast("bigint").alias("users_w"),
        F.theta_sketch_estimate(F.col("b.sk")).cast("bigint").alias("users_next"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("a.sk"), F.col("b.sk"))
        ).cast("bigint").alias("retained"),
    ).withColumn(
        "retention_rate",
        F.round(F.col("retained") / F.col("users_w"), 6),
    )


_RETENTION_SQL = """
WITH wu AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week_start, user_id
  FROM events),
wc AS (SELECT week_start, COUNT(*) AS users FROM wu GROUP BY week_start),
ret AS (
  SELECT a.week_start, b.week_start AS next_week_start, COUNT(*) AS retained
  FROM wu a JOIN wu b
    ON b.week_start = a.week_start + INTERVAL 7 DAY AND a.user_id = b.user_id
  GROUP BY a.week_start, b.week_start)
SELECT r.week_start, r.next_week_start,
  w1.users AS users_w, w2.users AS users_next, r.retained,
  ROUND(r.retained / CAST(w1.users AS DOUBLE), 6) AS retention_rate
FROM ret r
JOIN wc w1 ON w1.week_start = r.week_start
JOIN wc w2 ON w2.week_start = r.next_week_start
"""


def q_variant_props_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the OPEN VARIANT type (Spark 4):
    parse the JSON props column once into a binary variant, then typed
    path extraction feeds a normal aggregation. Versus string JSON ops,
    variant parses each value once (not once per path) and its binary
    encoding shreds into columnar reads at the parquet layer — the
    schema-on-read path for 100 TB of heterogeneous event payloads."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        )
        .withColumn(
            "avg_k",
            F.round(F.col("sum_k").cast("double") / F.col("n_with_k"), 6),
        )
    )


_VARIANT_SQL = """
WITH x AS (
  SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events)
SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
  MIN(k) AS min_k, MAX(k) AS max_k, SUM(CAST(k AS BIGINT)) AS sum_k,
  ROUND(CAST(SUM(CAST(k AS BIGINT)) AS DOUBLE) / COUNT(k), 6) AS avg_k
FROM x GROUP BY event_type
"""


def q_user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting over the events stream: per day, new users (first
    ever seen), returning users, and the cumulative user count. Two
    aggregations sharing the user_id shuffle key (daily-active and
    first-seen) + a broadcast-sized join on day + a cumulative window over
    the (tiny) daily series. The user-level frames are one row per user /
    per (user, day) — at 100 TB both shuffles carry ids, never events."""
    ev = _t(spark, sf_dir, "events")
    # day is a calendar grain (bounded by the corpus time span, not data
    # volume) — the census resolves it through cast-as-date on the active
    # side and through the domain-preserving MIN on the first_seen side
    active = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("active_users"))
    )
    first_seen = (
        ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(first_seen, "day", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("returning_users", F.col("active_users") - F.col("new_users"))
        .withColumn("cumulative_users", F.sum("new_users").over(w))
        .select("day", "active_users", "new_users", "returning_users", "cumulative_users")
    )


_GROWTH_SQL = """
WITH active AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS active_users
  FROM events GROUP BY CAST(ts AS DATE)),
fs AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY day)
SELECT a.day, a.active_users,
  COALESCE(nu.new_users, 0) AS new_users,
  a.active_users - COALESCE(nu.new_users, 0) AS returning_users,
  SUM(COALESCE(nu.new_users, 0)) OVER (
    ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS cumulative_users
FROM active a LEFT JOIN nu ON nu.day = a.day
"""


def q_dq_orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over orders, evaluated in ONE scan
    (functions/quality.py): any number of row-level rules become
    conditional-count aggregates in a single agg — never one job per
    rule. Two rules are deliberately violated by the fixture (pre-2000
    dates, sub-100k price cap) so the summary exercises non-zero paths."""
    from ..functions.quality import check_expectations

    orders = _t(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return check_expectations(
        orders,
        {
            "orderkey_not_null": F.col("o_orderkey").isNotNull(),
            "positive_price": F.col("o_totalprice") > 0,
            "known_priority": F.col("o_orderpriority").isin(pri),
            "price_under_100k": F.col("o_totalprice") < 100000,
            "pre_y2k_date": F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"),
        },
    )


_DQ_EXPECT_SQL = """
WITH s AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS v_notnull,
    SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v_pos,
    SUM(CASE WHEN o_orderpriority IN
      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
      THEN 0 ELSE 1 END) AS v_pri,
    SUM(CASE WHEN o_totalprice < 100000 THEN 0 ELSE 1 END) AS v_cap,
    SUM(CASE WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 0 ELSE 1 END) AS v_y2k
  FROM orders),
long AS (
  SELECT 'orderkey_not_null' AS rule, n_rows, v_notnull AS n_violations FROM s
  UNION ALL SELECT 'positive_price', n_rows, v_pos FROM s
  UNION ALL SELECT 'known_priority', n_rows, v_pri FROM s
  UNION ALL SELECT 'price_under_100k', n_rows, v_cap FROM s
  UNION ALL SELECT 'pre_y2k_date', n_rows, v_y2k FROM s)
SELECT rule, n_rows, n_violations,
  ROUND((n_rows - n_violations) / CAST(greatest(n_rows, 1) AS DOUBLE), 6) AS pass_rate
FROM long ORDER BY rule
"""


def q_similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by integer dot product over int8-quantized embeddings
    (functions/similarity.py quantize/quantized_topk): per-dim min/max
    stats train on a dims-sized aggregate, then quantization and scoring
    are row-local JVM array ops. 4x memory/bandwidth vs float32 — the ANN
    compression tier; recall vs exact cosine is pinned in tests."""
    emb = SIM.with_normalized(_t(spark, sf_dir, "embeddings"))
    qrow = emb.filter(F.col("vec_id") == 0).head()
    if qrow is None:
        raise ValueError("embeddings table has no vec_id=0 query row")
    query = [float(x) for x in qrow.nvec]
    mins, scales = SIM.quantization_stats(emb)
    return SIM.quantized_topk(emb, query, mins, scales)


# The quantizer's "learned" state is all deterministic data (per-dim
# min/max of the L2-normalized corpus, scales, the normalized vec_id=0
# query), so the DuckDB twin replays the identical IEEE pipeline:
# normalize -> per-dim stats -> ADC weights -> rounded integer codes ->
# dot with the weight array -> 6dp-rounded ranking.
_QUANTIZED_SQL = f"""
WITH nv AS (
  SELECT vec_id,
    list_transform(embedding, x -> x::DOUBLE /
      greatest(sqrt(list_sum(list_transform(embedding,
               y -> y::DOUBLE * y::DOUBLE))), 1e-12)) AS nvec
  FROM embeddings),
dims AS (
  SELECT i, MIN(nvec[i]) AS lo, MAX(nvec[i]) AS hi
  FROM nv, generate_series(1, {_EMB_DIM}) t(i)
  GROUP BY i),
arrs AS (
  SELECT list(lo ORDER BY i) AS lo_a,
         list(greatest(hi - lo, 1e-12) / 255.0 ORDER BY i) AS sc_a
  FROM dims),
qn AS (SELECT nvec AS qv FROM nv WHERE vec_id = 0),
scored AS (
  SELECT n.vec_id,
    round(list_sum(list_transform(generate_series(1, {_EMB_DIM}),
          i -> round((n.nvec[i] - a.lo_a[i]) / a.sc_a[i])
               * (a.sc_a[i] * q.qv[i]))), 6) AS qscore
  FROM nv n, arrs a, qn q)
SELECT vec_id, qscore FROM scored ORDER BY qscore DESC, vec_id LIMIT 20
"""


def q_decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-set hygiene op: flag
    corpus documents sharing any word 4-gram with a held-out benchmark
    set (here: doc_id % 97 == 0 simulates the eval set). The benchmark
    gram set is tiny by construction, so it BROADCASTS: the corpus-side
    scan streams past it with no shuffle of corpus text; per-source
    summary follows. At 100 TB this is a broadcast-semi-join per shard —
    contamination checking at scan speed."""
    docs = _t(spark, sf_dir, "documents")
    bench_grams = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(TX.word_shingles(F.col("text"))).alias("g"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        corpus.select("doc_id", "source", F.explode(TX.word_shingles(F.col("text"))).alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .select("doc_id", "source")
        .distinct()
    )
    return (
        corpus.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .join(
            contaminated.groupBy("source").agg(F.count("*").alias("n_contaminated")),
            "source",
            "left",
        )
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn("n_kept", F.col("n_docs") - F.col("n_contaminated"))
        .select("source", "n_docs", "n_contaminated", "n_kept")
    )


_WORD4_SQL = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_TOKS_SQL}) - 3, 1)), "
    f"i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 3), ' ')))"
)

_DECONTAM_SQL = f"""
WITH d AS (SELECT doc_id, source, {_WORD4_SQL} AS sh FROM documents),
bench AS (SELECT DISTINCT unnest(sh) AS g FROM d WHERE doc_id % 97 = 0),
hits AS (
  SELECT DISTINCT c.doc_id, c.source
  FROM (SELECT doc_id, source, unnest(sh) AS g FROM d WHERE doc_id % 97 != 0) c
  JOIN bench USING (g)),
per_src AS (
  SELECT source, COUNT(*) AS n_docs FROM d WHERE doc_id % 97 != 0 GROUP BY source),
hit_src AS (SELECT source, COUNT(*) AS n_contaminated FROM hits GROUP BY source)
SELECT p.source, p.n_docs,
  COALESCE(h.n_contaminated, 0) AS n_contaminated,
  p.n_docs - COALESCE(h.n_contaminated, 0) AS n_kept
FROM per_src p LEFT JOIN hit_src h ON h.source = p.source
"""


def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: per-source target weights (even
    source ids keep 100%, odd keep 40%) applied via a content-hash
    Bernoulli gate — md5(doc_id) mod 1e6 under rate. No RNG state, so
    the SAME rows are selected on every engine, every run, any partition
    order: reproducible data recipes, the mixing contract a training
    pipeline needs. Output: per-source selection summary."""
    docs = _t(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    rate = F.when(src_num % 2 == 0, F.lit(1.0)).otherwise(F.lit(0.4))
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 1000000
    ) / 1000000.0
    return (
        docs.select("source", rate.alias("rate"), (frac < rate).alias("sel"))
        .groupBy("source", "rate")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("sel").cast("int")).alias("n_selected"),
        )
        .select("source", "rate", "n_docs", "n_selected")
    )


_MIX_SQL = """
WITH x AS (
  SELECT source,
    CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 2 = 0
         THEN 1.0 ELSE 0.4 END AS rate,
    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)
      / 1000000.0 AS frac
  FROM documents)
SELECT source, rate, COUNT(*) AS n_docs,
  SUM(CASE WHEN frac < rate THEN 1 ELSE 0 END) AS n_selected
FROM x GROUP BY source, rate
"""


def q_window_range_1h_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per event, the count/sum of same-type
    events in the trailing hour — a range frame over epoch-micros, NOT a
    row frame, so irregular event spacing is handled exactly (peers at
    the same instant always share a frame). Partitioned by event_type:
    parallel by construction; frame sums run in decimal (engines disagree
    on double add/retract order inside sliding frames)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.count("*").over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(38,10)")).over(w)
        .cast("double")
        .alias("sum_1h"),
    )


_RANGE1H_SQL = """
SELECT event_id, event_type,
  COUNT(*) OVER w AS n_1h,
  CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics from EXACT decimal power sums: per
    event_type, stddev of value and corr(value, props.k) derived from
    (n, Σx, Σx², Σy, Σy², Σxy) — one aggregation pass, and because the
    sums are exact decimals the derived doubles are bit-identical across
    engines (native corr()/stddev() stream in partition order and are
    not reproducible). The moment-sum shape is also the distributed
    one: partials add, so it map-side combines like any sum.

    Inputs cast to decimal(18,8), NOT (38,10): Spark truncates a
    (38,10)x(38,10) product to scale 6 (the 38-digit precision cap forces
    scale loss) while DuckDB keeps full scale — (18,8) products stay
    exact at scale 16 in both engines, so the power sums really are
    exact for inputs with <= 8 decimal places."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,8)")
    y = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int").cast(
        "decimal(18,8)"
    )
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    stddev = F.sqrt((sxx - sx * sx / n) / (n - 1))
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return agg.select(
        "event_type",
        "n",
        F.round(sx / n, 6).alias("mean_value"),
        F.round(stddev, 6).alias("stddev_value"),
        F.round(corr, 6).alias("corr_value_k"),
    )


_MOMENTS_SQL = """
WITH b AS (
  -- DECIMAL(19,8) not (18,8): width 19 forces int128 storage so the
  -- product does not overflow int64; products are exact at scale 16,
  -- matching Spark's (18,8)x(18,8) -> (37,16) exactly
  SELECT event_type,
    CAST(value AS DECIMAL(19,8)) AS x,
    CAST(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(19,8)) AS y
  FROM events),
m AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(x) AS sx, SUM(x*x) AS sxx, SUM(y) AS sy, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM b GROUP BY event_type)
SELECT event_type, n,
  ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_value,
  ROUND(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n) / (n - 1)), 6) AS stddev_value,
  ROUND((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
    / (sqrt(n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
     * sqrt(n*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS corr_value_k
FROM m
"""


def q_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling: rank rows inside each source by
    a content hash and keep the first 5 — a uniform without-replacement
    sample per group that is identical on every engine/run/partitioning
    (the distributed replacement for per-group reservoir sampling; same
    hash-gate idea as corpus_mix_sample but with an exact per-group k).
    The source enum would fan the corpus into ≤|sources| tasks under a
    plain partitioned window, so the per-group pick index is the
    distributed grouped row_number (ranged order + broadcast rebase)."""
    docs = _t(spark, sf_dir, "documents")
    hsh = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "source", "doc_id", "n_chars", hsh.alias("__h")
    )
    return (
        RK.grouped_top_k(
            keyed, ["source"], ["__h", "doc_id"], 5, col_name="pick"
        )
        .select(
            "source", "doc_id", "n_chars",
            F.col("pick").cast("int").alias("pick"),
        )
    )


_PGSAMPLE_SQL = """
SELECT source, doc_id, n_chars, pick FROM (
  SELECT source, doc_id, n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) AS pick
  FROM documents)
WHERE pick <= 5
"""


def q_nation_top_customers_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP, Spark 4): per
    nation, its top-3 customers by account balance concatenated in rank
    order. A window partitioned by the 25-nation enum would fan the
    customer table into 25 tasks at any cluster size, so the per-nation
    rank is the distributed grouped row_number — behind the
    size-adaptive dispatch (r7 VERDICT #3: the assert-guarded plain
    window runs when the frame is proven under the cap); the listagg
    input is 3 rows per nation, so the final aggregation is trivially
    small."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    top3 = RK.grouped_top_k(
        cust,
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        3,
        col_name="rank",
        dispatch=True,
    ).join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
    return (
        top3.groupBy("n_name")
        .agg(
            F.expr(
                "listagg(c_name, ',') WITHIN GROUP (ORDER BY rank)"
            ).alias("top_customers"),
            F.count("*").alias("n_top"),
        )
        .select("n_name", "top_customers", "n_top")
    )


_LISTAGG_SQL = """
WITH ranked AS (
  SELECT n_name, c_name,
    ROW_NUMBER() OVER (
      PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rank
  FROM customer JOIN nation ON c_nationkey = n_nationkey)
SELECT n_name,
  string_agg(c_name, ',' ORDER BY rank) AS top_customers,
  COUNT(*) AS n_top
FROM ranked WHERE rank <= 3 GROUP BY n_name
"""


def q_scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: each user's
    event_type is treated as a mutable attribute; consecutive duplicate
    states compress away (lag), then each surviving change opens a
    validity interval closed by the next change (lead). valid_to NULL
    marks the current state. Two window passes partitioned by user —
    parallel across users, no self-join, the standard CDC->SCD2 build."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("state"))
        .withColumn("prev_state", F.lag("state").over(w))
        .filter(
            F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


_SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type AS state,
    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
  FROM events),
changes AS (
  SELECT user_id, ts, event_id, state FROM ordered
  WHERE prev_state IS NULL OR state != prev_state)
SELECT user_id, state, ts AS valid_from,
  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM changes
"""


def q_scd2_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup over the SCD2 intervals: every user's state
    as of 2024-01-15 00:00. Interval containment on the already-built
    dimension — a filter, not a join, because validity intervals tile
    each user's timeline (the \"time travel\" read pattern)."""
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    ivals = q_scd2_user_state_intervals(spark, sf_dir)
    return (
        ivals.filter(
            (F.col("valid_from") <= cutoff)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > cutoff))
        )
        .select("user_id", "state", "valid_from")
        .orderBy("user_id")
    )


_SCD2_ASOF_SQL = f"""
WITH ivals AS ({_SCD2_SQL})
SELECT user_id, state, valid_from FROM ivals
WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
ORDER BY user_id
"""


def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: trend = centered 7-day moving average (decimal inside the
    frame), seasonal = mean detrended value per ISO weekday (recentered
    to sum to zero), residual = value - trend - seasonal. The explain-
    the-forecast companion to the Prophet/ridge forecaster, exact enough
    to hash-check cross-engine. Window + two tiny aggregates over the
    daily series — at 100 TB the daily rollup upstream is the reducer."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast("double"), 2
        ).alias("y")
    )
    wtrend = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "n_win", F.count("*").over(wtrend)
    ).withColumn(
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
            F.sum(F.col("s_raw").cast("decimal(38,10)")).cast("double") / F.count("*"),
            6,
        ).alias("g")
    )
    seasonal = dow_means.crossJoin(F.broadcast(grand)).select(
        "isodow", F.round(F.col("s_raw") - F.col("g"), 6).alias("seasonal")
    )
    return (
        detr.join(
            F.broadcast(seasonal),
            (F.weekday("day") + F.lit(1)) == F.col("isodow"),
        )
        .select(
            "day",
            "y",
            "trend",
            "seasonal",
            F.round(F.col("y") - F.col("trend") - F.col("seasonal"), 6).alias(
                "residual"
            ),
        )
    )


_DECOMP_SQL = """
WITH daily AS (
  SELECT o_orderdate AS day,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2) AS y
  FROM orders GROUP BY o_orderdate),
trended AS (
  SELECT day, y,
    COUNT(*) OVER w AS n_win,
    ROUND(CAST(SUM(CAST(y AS DECIMAL(38,10))) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS trend
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
detr AS (
  SELECT day, y, trend, ROUND(y - trend, 6) AS dt FROM trended),
dow_means AS (
  SELECT isodow(day) AS isodow,
    ROUND(CAST(SUM(CAST(dt AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6) AS s_raw
  FROM detr GROUP BY isodow(day)),
grand AS (
  SELECT ROUND(CAST(SUM(CAST(s_raw AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6) AS g
  FROM dow_means),
seasonal AS (
  SELECT isodow, ROUND(s_raw - g, 6) AS seasonal FROM dow_means CROSS JOIN grand)
SELECT d.day, d.y, d.trend, s.seasonal,
  ROUND(d.y - d.trend - s.seasonal, 6) AS residual
FROM detr d JOIN seasonal s ON isodow(d.day) = s.isodow
"""


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) over parts: keep every part no other part
    strictly dominates on (cheaper price, larger size). Instead of the
    naive O(n^2) self-anti-join, the 2-D skyline reduces to a window scan:
    collapse to one row per distinct price with the max size at that price,
    take the running max of size over strictly-cheaper prices (rows frame
    on the per-price rollup = strict because prices are grouped), and keep
    parts whose size matches or exceeds it (dominance needs BOTH strict
    dims, so equal-size-but-cheaper does not dominate). The distinct-price
    frame grows with the part count, so the strictly-cheaper running max
    is the distributed exclusive running max (operators/ranking.py), and
    the join back is a plain equi-join (AQE may still broadcast it at
    runtime when it IS small) — O(n log n), no join explosion at 100 TB."""
    part = _t(spark, sf_dir, "part")
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("max_size_at_price")
    )
    cheaper = RK.global_running_max(
        per_price,
        ["p_retailprice"],
        "max_size_at_price",
        "cheaper_max_size",
        exclusive=True,
        dispatch=True,
    ).select("p_retailprice", "cheaper_max_size")
    return (
        part.join(cheaper, "p_retailprice")
        .filter(
            F.col("cheaper_max_size").isNull()
            | (F.col("p_size") >= F.col("cheaper_max_size"))
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
    )


_SKYLINE_SQL = """
WITH per_price AS (
  SELECT p_retailprice, MAX(p_size) AS max_size_at_price
  FROM part GROUP BY p_retailprice),
cheaper AS (
  SELECT p_retailprice,
    MAX(max_size_at_price) OVER (ORDER BY p_retailprice
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cheaper_max_size
  FROM per_price)
SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
FROM part p JOIN cheaper c ON p.p_retailprice = c.p_retailprice
WHERE c.cheaper_max_size IS NULL OR p.p_size >= c.cheaper_max_size
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event_type | current event_type), estimated from every adjacent
    pair in each user's timeline. One lag-free window pass (lead) + one
    aggregation — the sequence-model bootstrap for behavioral data. The
    per-src normalizer rides along via a second window over the grouped
    counts, so there is no extra self-join."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.sum("n").over(wsrc), 6).alias("p"),
    )


_MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type AS src,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events),
counts AS (
  SELECT src, dst, COUNT(*) AS n FROM pairs
  WHERE dst IS NOT NULL GROUP BY src, dst)
SELECT src, dst, n,
  ROUND(n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
FROM counts
"""


def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user over irregularly-spaced
    events: each observation holds until the next one, so TWAP =
    sum(value * dt) / sum(dt) with dt in exact integer microseconds
    (unix_micros == DuckDB epoch_us). The weighted sum aggregates in
    decimal — value*dt is one IEEE multiply (deterministic), only the
    reduction order needs taming. The standard finance/metrics estimator
    that plain avg() gets wrong on bursty streams."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = (
        ev.select(
            "user_id",
            "value",
            F.unix_micros("ts").alias("t0"),
            F.unix_micros(F.lead("ts").over(w)).alias("t1"),
        )
        .filter(F.col("t1").isNotNull())
        .withColumn("dt", F.col("t1") - F.col("t0"))
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("dt").alias("total_us"),
            F.round(
                F.sum((F.col("value") * F.col("dt")).cast("decimal(38,6)"))
                .cast("double")
                / F.sum("dt"),
                6,
            ).alias("twap"),
        )
        .filter(F.col("total_us") > 0)
    )


_TWAP_SQL = """
WITH spans AS (
  SELECT user_id, value,
    epoch_us(ts) AS t0,
    epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS t1
  FROM events),
d AS (
  SELECT user_id, value, t1 - t0 AS dt FROM spans WHERE t1 IS NOT NULL)
SELECT user_id, COUNT(*) AS n_spans, SUM(dt) AS total_us,
  ROUND(CAST(SUM(CAST(value * dt AS DECIMAL(38,6))) AS DOUBLE)
        / CAST(SUM(dt) AS DOUBLE), 6) AS twap
FROM d GROUP BY user_id HAVING SUM(dt) > 0
"""


def q_allocation_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: split each order's total price across
    its line items proportionally to extended price, in EXACT integer
    cents — sum(alloc) == order total, always. floor-divide gives the
    base share, then the leftover cents (< n_items) go to the largest
    fractional remainders (total order via remainder desc, weight desc,
    linenumber). Pure int64 arithmetic end-to-end: no float drift on any
    engine, and the whole thing is two window passes over a single
    partition-by-orderkey shuffle — no self-join, linear at 100 TB."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
    )
    w_order = Window.partitionBy("l_orderkey")
    w_rank = Window.partitionBy("l_orderkey").orderBy(
        F.desc("rem"), F.desc("price_cents"), "l_linenumber"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn("sw", F.sum("price_cents").over(w_order))
        .withColumn("base", F.expr("(total_cents * price_cents) DIV sw"))
        .withColumn("rem", F.expr("(total_cents * price_cents) % sw"))
        .withColumn("rk", F.row_number().over(w_rank))
        .withColumn("leftover", F.col("total_cents") - F.sum("base").over(w_order))
        .select(
            "l_orderkey",
            "l_linenumber",
            "price_cents",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), F.lit(1)).otherwise(F.lit(0))
            ).alias("alloc_cents"),
        )
    )


_PRORATE_SQL = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem),
j AS (
  SELECT li.*, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
  FROM li JOIN orders ON l_orderkey = o_orderkey),
b AS (
  SELECT *, SUM(price_cents) OVER (PARTITION BY l_orderkey) AS sw
  FROM j),
c AS (
  SELECT *, (total_cents * price_cents) // sw AS base,
            (total_cents * price_cents) % sw AS rem
  FROM b),
r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      ORDER BY rem DESC, price_cents DESC, l_linenumber) AS rk,
    total_cents - SUM(base) OVER (PARTITION BY l_orderkey) AS leftover
  FROM c)
SELECT l_orderkey, l_linenumber, price_cents,
  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_cents
FROM r
"""


def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over the event stream: users are
    cohorted by the ISO week of their first event; each later active week
    contributes one cell (cohort_week, week_offset) with the distinct-user
    count. All date/integer arithmetic (date_trunc('week') agrees across
    engines; the offset is an exact multiple of 7 days) — no floats to
    tame. Two aggregations plus one join that is broadcastable because the
    per-user first-seen table is |users|, tiny next to the event log."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("week_d").alias("cohort_week"))
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("week_d", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_COHORT_SQL = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week_d FROM events),
firsts AS (
  SELECT user_id, MIN(week_d) AS cohort_week FROM ev GROUP BY user_id)
SELECT cohort_week,
  CAST(date_diff('day', cohort_week, week_d) / 7 AS INTEGER) AS week_offset,
  COUNT(DISTINCT ev.user_id) AS n_users
FROM ev JOIN firsts ON ev.user_id = firsts.user_id
GROUP BY cohort_week, week_offset
"""


def q_phonetic_word_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-lite dedup over the part-name vocabulary: fingerprint each
    word as first letter + vowel-stripped tail (a soundex-style consonant
    skeleton that RE2 and Java regex agree on — no backreferences), then
    group words sharing a fingerprint. Surfaces spelling variants that
    exact dedup misses. Vocabulary extraction is explode + groupBy (all
    codegen); the grouping runs on the distinct-word set, which is tiny
    relative to the corpus at any scale."""
    words = (
        _t(spark, sf_dir, "part")
        .select(F.explode(F.split(F.upper("p_name"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    keyed = words.select(
        "w",
        F.concat(
            F.substring("w", 1, 1),
            F.regexp_replace(F.substring(F.col("w"), 2, 1000), "[AEIOU]", ""),
        ).alias("fingerprint"),
    )
    return (
        keyed.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_words"),
            F.array_join(F.array_sort(F.collect_list("w")), ",").alias("words"),
        )
        .filter(F.col("n_words") >= 2)
    )


_PHONETIC_SQL = """
WITH words AS (
  SELECT DISTINCT w
  FROM (SELECT unnest(string_split(upper(p_name), ' ')) AS w FROM part)
  WHERE w <> ''),
keyed AS (
  SELECT w, substr(w, 1, 1) || regexp_replace(substr(w, 2), '[AEIOU]', '', 'g')
    AS fingerprint
  FROM words)
SELECT fingerprint, COUNT(*) AS n_words,
  string_agg(w, ',' ORDER BY w) AS words
FROM keyed
GROUP BY fingerprint
HAVING COUNT(*) >= 2
"""


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order, vs the
    global max order date), frequency (order count) and monetary (lifetime
    revenue, cents-rounded) per customer, each scored into quintiles with
    ntile(5). Every ntile ordering carries a custkey tie-break so the
    quintile assignment is a total order — identical across engines. One
    aggregation over orders (checkpointed once), then three distributed
    NTILE passes (operators/ranking.py) — the per-customer frame is
    fact-proportional, so each quintile split is a ranged shuffle +
    broadcast offsets, never a single-partition window."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count("*").alias("frequency"),
        _dsum_cents(F.col("o_totalprice")).alias("monetary"),
    )
    max_d = o.select(F.max(F.to_date("o_orderdate")).alias("max_d"))
    scored = (
        per_cust.crossJoin(F.broadcast(max_d))
        .withColumn("recency_days", F.datediff("max_d", "last_order"))
        .drop("max_d", "last_order")
    )
    out = RK.global_ntile(
        scored, ["recency_days", "o_custkey"], 5, col_name="r_score",
        dispatch=True,
    )
    out = RK.global_ntile(
        out, ["frequency", "o_custkey"], 5, col_name="f_score",
        ascending=[False, True], dispatch=True,
    )
    out = RK.global_ntile(
        out, ["monetary", "o_custkey"], 5, col_name="m_score",
        ascending=[False, True], dispatch=True,
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )


_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
    MAX(CAST(o_orderdate AS DATE)) AS last_order,
    COUNT(*) AS frequency,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
      AS monetary
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey,
    date_diff('day', last_order,
      (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
    frequency, monetary
  FROM per_cust)
SELECT o_custkey AS custkey, recency_days, frequency, monetary,
  NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
  NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
  NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
FROM scored
"""


# Driver-local graph materialization bound: the trade-graph queries
# collect a DERIVED nation-keyed edge list (<= |nations|² = 625 rows by
# construction). That bound is a DATA property, not a plan property —
# so it is enforced, not just argued: a future caller pointing the same
# code at an unbounded key fails loudly instead of OOMing the driver.
_MAX_DRIVER_EDGES = 10_000


def _collect_bounded_edges(df: DataFrame, what: str) -> list:
    """Fetch at most the bound + 1 rows (LIMIT caps the transfer, so
    even a violating caller never ships the full edge list to the
    driver), then fail loudly past the bound."""
    rows = df.limit(_MAX_DRIVER_EDGES + 1).collect()
    if len(rows) > _MAX_DRIVER_EDGES:
        raise ValueError(
            f"{what}: derived edge list exceeds {_MAX_DRIVER_EDGES} rows; "
            "driver-local materialization is only sound for bounded "
            "(nation-keyed) graphs — use the distributed graph operators "
            "for unbounded keys"
        )
    return rows


def q_trade_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census on the nation trade graph: nations are vertices; an
    undirected edge joins two nations whose mutual trade volume (either
    direction) beats 1.05x the mean pair volume — a relative threshold so
    the graph sparsifies identically at every scale factor. Triangles are
    counted by the canonical a<b<c two-hop join. Integer counting on a
    <=25-vertex derived graph: the heavy lifting is the fact-table
    aggregation; the thresholded edge list (<= |nations|^2 rows) is
    materialized to the driver ONCE and re-created as a local DataFrame,
    so the three-way self-join never re-derives the fact aggregation —
    without this, Spark re-planned the 5-table join under every alias
    (24 parquet scans in the census; the fact tables are now read only in
    the single edge-materialization job). The DuckDB twin needs
    MATERIALIZED CTEs for the same reason."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"),
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(_dsum(F.col("v")).alias("volume"))
    )
    mean_vol = vol.select((_dsum(F.col("volume")) / F.count("*")).alias("mv"))
    edge_rows = _collect_bounded_edges(
        vol.crossJoin(F.broadcast(mean_vol))
        .filter(F.col("volume") > 1.05 * F.col("mv"))
        .select("a", "b"),
        "trade_graph_triangles",
    )
    edges = spark.createDataFrame(
        [(r.a, r.b) for r in edge_rows] or [(None, None)], "a bigint, b bigint"
    ).filter(F.col("a").isNotNull())
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("na"),
            F.col("e1.b").alias("nb"),
            F.col("e2.b").alias("nc"),
        )
    )
    return tri.groupBy().agg(
        F.count("*").alias("n_triangles"),
        F.count_distinct("na", "nb", "nc").alias("n_distinct"),
    )


_TRIANGLE_SQL = """
WITH vol AS MATERIALIZED (
  SELECT LEAST(s_nationkey, c_nationkey) AS a,
         GREATEST(s_nationkey, c_nationkey) AS b,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
              AS DOUBLE) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2),
mv AS (
  SELECT CAST(SUM(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS mv
  FROM vol),
edges AS MATERIALIZED (
  -- MATERIALIZED on vol+edges: inlined, DuckDB re-expands the fact
  -- aggregation under every self-join alias and the plan blows up at sf0.1
  SELECT a, b FROM vol, mv WHERE volume > 1.05 * mv),
tri AS (
  SELECT e1.a AS na, e1.b AS nb, e2.b AS nc
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e1.a = e3.a AND e2.b = e3.b)
SELECT COUNT(*) AS n_triangles,
  COUNT(DISTINCT (na, nb, nc)) AS n_distinct
FROM tri
"""


def q_funnel_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event timelines: compress
    each user's time-ordered event types to an initials string (s/v/c/p/e)
    and regex-match the signup->view->purchase funnel with arbitrary gaps
    — the MATCH_RECOGNIZE-lite idiom. The ordered compression is a sorted
    collect_list inside one groupBy (a single shuffle keyed by user);
    the regex runs once per user on a short string, not per event."""
    ev = _t(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("i")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws("", F.transform(F.array_sort(F.collect_list("s")), lambda x: x["i"])).alias(
                "seq"
            )
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").alias("n_events"),
        F.col("seq").rlike("s.*v.*p").alias("funnel_hit"),
        F.length(F.regexp_replace("seq", "[^p]", "")).alias("n_purchases"),
    )


_FUNNEL_SEQ_SQL = """
WITH seqs AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events GROUP BY user_id)
SELECT user_id, LENGTH(seq) AS n_events,
  regexp_matches(seq, 's.*v.*p') AS funnel_hit,
  LENGTH(regexp_replace(seq, '[^p]', '', 'g')) AS n_purchases
FROM seqs
"""


def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order revenue with a
    half-life of one day, truncated to a 16-day kernel. The whole kernel
    is INTEGER arithmetic end-to-end: daily revenue in cents (exact int64)
    scaled by 2^(15-lag) via shiftleft, summed, and floored to micro-
    dollars with a split quotient/remainder integer division — no libm,
    no float division, no ROUND (a real 6dp half-up/half-even tie showed
    up at sf0.01). The kernel is a bounded day-index band join
    (16 rows per day) — linear in days, no unbounded window state,
    scale-safe."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(_dsum_cents(F.col("o_totalprice")).alias("revenue"))
        .withColumn("idx", F.row_number().over(Window.orderBy("d")))
    )
    daily = daily.withColumn(
        "rev_cents", F.round(F.col("revenue") * 100).cast("bigint")
    )
    cur, past = daily.alias("cur"), daily.alias("past")
    joined = cur.join(
        past,
        (F.col("past.idx") <= F.col("cur.idx"))
        & (F.col("past.idx") > F.col("cur.idx") - 16),
    ).select(
        F.col("cur.d").alias("d"),
        F.col("cur.revenue").alias("revenue"),
        (F.lit(15) - (F.col("cur.idx") - F.col("past.idx"))).alias("shift"),
        F.col("past.rev_cents").alias("rev_cents"),
    )
    # exact floor at micro-dollar precision: num/(den*100) dollars, scaled
    # by 1e6 via split quotient/remainder so every intermediate fits int64.
    # No float division, no ROUND — immune to half-up/half-even tie drift.
    return (
        joined.groupBy("d", "revenue")
        .agg(
            F.sum(F.expr("rev_cents * shiftleft(1L, shift)")).alias("num"),
            (F.sum(F.expr("shiftleft(1L, shift)")) * 100).alias("d2"),
        )
        .select(
            "d",
            "revenue",
            F.expr(
                "(num DIV d2) * 1000000 + ((num % d2) * 1000000) DIV d2"
            ).alias("ewma_micro"),
        )
    )


_EWMA_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
      AS revenue
  FROM orders GROUP BY 1),
idxd AS (
  SELECT d, revenue, CAST(ROUND(revenue * 100) AS BIGINT) AS rev_cents,
    ROW_NUMBER() OVER (ORDER BY d) AS idx
  FROM daily),
joined AS (
  SELECT cur.d, cur.revenue,
    15 - (cur.idx - past.idx) AS shift, past.rev_cents
  FROM idxd cur JOIN idxd past
    ON past.idx <= cur.idx AND past.idx > cur.idx - 16),
agg AS (
  SELECT d, revenue,
    SUM(rev_cents * (1::BIGINT << shift)) AS num,
    SUM(1::BIGINT << shift) * 100 AS d2
  FROM joined GROUP BY d, revenue)
SELECT d, revenue,
  (num // d2) * 1000000 + ((num % d2) * 1000000) // d2 AS ewma_micro
FROM agg
"""


def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the directed nation trade graph (supplier
    nation -> customer nation, edge weight = trade volume). Genuinely
    iterative — k rounds of join+aggregate with lineage cuts — but the
    iteration count is FIXED (10), so the DuckDB twin unrolls the power
    iteration into 10 generated CTE stages over the identical edge
    derivation and hash-checks the 6dp-rounded ranks; the numpy parity
    test (tests/test_graph.py) independently pins the operator."""
    from ..operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
    )
    pr = pagerank(edges)
    return pr.select(
        F.col("node").alias("nationkey"), F.round("rank", 6).alias("rank")
    )


def _pagerank_sql() -> str:
    """Unrolled power-iteration twin of operators/graph.pagerank: one CTE
    trio (dangling mass, contributions, new ranks) per round, mirroring
    the operator's float algebra — (1.0 - 0.85) evaluates to the same
    IEEE double in both engines, and all cross-row sums feed a 6dp round."""
    from ..operators.graph import ITERATIONS as iterations

    stages = []
    for k in range(1, iterations + 1):
        prev = f"r{k - 1}"
        stages.append(f"""
d{k} AS (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dm
  FROM {prev} r JOIN dangling d ON r.node = d.node),
c{k} AS (
  SELECT nm.dst, SUM(nm.frac * r.rank) AS c
  FROM norm nm JOIN {prev} r ON nm.src = r.node GROUP BY nm.dst),
r{k} AS (
  SELECT n.node,
    (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c.c, 0.0) + d{k}.dm / nn.n) AS rank
  FROM nodes n CROSS JOIN nn CROSS JOIN d{k} LEFT JOIN c{k} c ON c.dst = n.node)""")
    return f"""
WITH edges AS MATERIALIZED (
  SELECT s_nationkey AS src, c_nationkey AS dst,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
         AS DOUBLE) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
out_w AS MATERIALIZED (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
norm AS MATERIALIZED (
  SELECT e.src, e.dst, e.w / o.ow AS frac FROM edges e JOIN out_w o USING (src)),
dangling AS MATERIALIZED (
  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM out_w)),
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
{",".join(stages)}
SELECT node AS nationkey, round(rank, 6) AS rank FROM r{iterations}
"""


_PAGERANK_SQL = _pagerank_sql()


def q_pagerank_trade_graph_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME trade-graph PageRank forced down the distributed
    join+groupBy loop (``max_driver_nodes=0``) — the plan that runs when
    the graph exceeds the driver-dispatch caps, i.e. the 100x-scale
    path. Kept on the bench so a regression in the loop's checkpoint/
    persist economics stays visible (r10 VERDICT #5: the suite row now
    measures the bounded numpy dispatch only). Same oracle as
    pagerank_trade_graph — fast-vs-distributed parity is ≤1e-12
    (tests/test_graph.py), far inside the 6dp rounding."""
    from ..operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
    )
    pr = pagerank(edges, max_driver_nodes=0)
    return pr.select(
        F.col("node").alias("nationkey"), F.round("rank", 6).alias("rank")
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each document's token distribution — the
    classic diversity/quality signal for training-data curation: near-zero
    entropy flags degenerate/repetitive documents. p*ln(p) terms aggregate
    in decimal (commutative), divided by a shared ln(2) literal so both
    engines compute the identical double. explode + two aggregations, all
    codegen — no Python in the hot path, linear in corpus size."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    counts = toks.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    p = F.col("n") / F.col("tot")
    return (
        counts.withColumn("tot", F.sum("n").over(Window.partitionBy("doc_id")))
        .groupBy("doc_id")
        .agg(
            F.min("tot").alias("n_tokens"),
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(38,18)")).cast("double")
                / 0.6931471805599453,
                6,
            ).alias("entropy_bits"),
        )
    )


_ENTROPY_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
  FROM documents),
counts AS (
  SELECT doc_id, w, COUNT(*) AS n FROM toks WHERE w <> '' GROUP BY doc_id, w),
tot AS (
  SELECT *, SUM(n) OVER (PARTITION BY doc_id) AS tot FROM counts)
SELECT doc_id, MIN(tot) AS n_tokens,
  ROUND(
    CAST(SUM(CAST(-(n / CAST(tot AS DOUBLE)) * ln(n / CAST(tot AS DOUBLE))
                  AS DECIMAL(38,18))) AS DOUBLE) / 0.6931471805599453,
    6) AS entropy_bits
FROM tot GROUP BY doc_id
"""


def q_bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the document corpus for a fixed 3-term
    query — the standard lexical-search scorer (k1=1.2, b=0.75). tf/df/
    doclen are integers; idf and the saturation term are a fixed chain of
    IEEE ops identical on both engines; per-term scores aggregate in
    decimal so the 3-term sum is order-free. Top-20 with doc_id tie-break.
    One explode + two aggregations + a broadcast of the 3-row term stats —
    the inverted-index-free formulation that still scales linearly."""
    terms = ["spark", "join", "table"]
    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    # ONE tokenization pass: per-doc length and the per-term counts come out
    # of the same groupBy (the explode is the expensive part — running it
    # once instead of per-statistic halves the scan+shuffle volume)
    grouped = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("w") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=True)
    # ^ materialized once: corpus stats, df and the scoring join all read
    # the per-doc aggregate (|docs| rows), so the corpus-wide tokenization
    # runs exactly one time instead of once per consumer subtree.
    corpus = grouped.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    stack_expr = "stack({}, {}) as (w, tf)".format(
        len(terms), ", ".join(f"'{t}', tf_{i}" for i, t in enumerate(terms))
    )
    tf = (
        grouped.select("doc_id", "dl", F.expr(stack_expr))
        .filter(F.col("tf") > 0)
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "w").crossJoin(F.broadcast(corpus))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    avgdl = F.col("total_len") / F.col("n_docs")
    sat = (F.col("tf") * (1.2 + 1)) / (
        F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * (F.col("dl") / avgdl))
    )
    return (
        scored.select("doc_id", (idf * sat).alias("term_score"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("term_score").cast("decimal(38,18)")).cast("double"), 6
            ).alias("bm25")
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


_BM25_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
  FROM documents),
toks2 AS (SELECT doc_id, w FROM toks WHERE w <> ''),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks2 GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM doclen),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks2
  WHERE w IN ('spark', 'join', 'table') GROUP BY doc_id, w),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      * ((tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75
          * (dl / (CAST(total_len AS DOUBLE) / n_docs))))) AS term_score
  FROM tf JOIN df USING (w) JOIN doclen USING (doc_id), corpus)
SELECT doc_id,
  ROUND(CAST(SUM(CAST(term_score AS DECIMAL(38,18))) AS DOUBLE), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def q_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive days where daily
    revenue strictly increased day-over-day. The island id is the classic
    row_number difference (day index minus run-local row_number), entirely
    integer/date arithmetic; revenue comparisons happen on the cents-
    rounded daily series so both engines see identical doubles. Returns
    the 10 longest rising streaks. Two window passes + one aggregate —
    no self-join, linear in days."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(_dsum_cents(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.orderBy("d")
    flagged = (
        daily.withColumn("idx", F.row_number().over(w))
        .withColumn("up", (F.col("revenue") > F.lag("revenue").over(w)).cast("int"))
        .filter(F.col("up") == 1)
    )
    w_up = Window.orderBy("idx")
    islands = flagged.withColumn(
        "grp", F.col("idx") - F.row_number().over(w_up)
    )
    return (
        islands.groupBy("grp")
        .agg(
            F.min("d").alias("start_d"),
            F.max("d").alias("end_d"),
            F.count("*").alias("streak_days"),
        )
        .drop("grp")
        .orderBy(F.desc("streak_days"), "start_d")
        .limit(10)
    )


_STREAK_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 2)
      AS revenue
  FROM orders GROUP BY 1),
flagged AS (
  SELECT d, revenue,
    ROW_NUMBER() OVER (ORDER BY d) AS idx,
    CASE WHEN revenue > LAG(revenue) OVER (ORDER BY d) THEN 1 ELSE 0 END AS up
  FROM daily),
ups AS (SELECT * FROM flagged WHERE up = 1),
islands AS (
  SELECT *, idx - ROW_NUMBER() OVER (ORDER BY idx) AS grp FROM ups)
SELECT MIN(d) AS start_d, MAX(d) AS end_d, COUNT(*) AS streak_days
FROM islands GROUP BY grp
ORDER BY streak_days DESC, start_d LIMIT 10
"""


def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event count and exact-decimal mean value per
    (ISO day-of-week, hour-of-day) cell — the 7x24 usage fingerprint.
    Pure integer bucketing (Spark weekday()+1 == DuckDB isodow) and one
    aggregation; the mean divides an exact decimal sum by the count in
    double. Single shuffle on a 168-key space — trivially scalable."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).alias("isodow"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                _dsum(F.col("value")) / F.count("*"), 6
            ).alias("avg_value"),
        )
    )


_HEATMAP_SQL = """
SELECT isodow(ts) AS isodow, hour(ts) AS hour, COUNT(*) AS n_events,
  ROUND(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
    AS avg_value
FROM events GROUP BY 1, 2
"""


def q_mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per event type: exact median (percentile_cont
    0.5, R-7 linear interpolation in both engines) and the median absolute
    deviation — the outlier-resistant alternative to mean/stddev for
    telemetry with heavy tails. Outliers counted at the |v - med| > 3*MAD
    fence; both engines derive the fence through the identical op chain so
    the boundary double is bit-equal. Two grouped percentile passes."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.count("*").alias("n"),
    )
    return (
        dev.join(
            F.broadcast(mad.select("event_type", F.col("mad").alias("mad2"))),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.sum((F.col("adev") > 3 * F.col("mad2")).cast("int")).alias("n_outliers")
        )
        .join(mad, "event_type")
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n",
            "n_outliers",
        )
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type),
mad AS (
  SELECT event_type, MIN(med) AS med, quantile_cont(adev, 0.5) AS mad,
    COUNT(*) AS n
  FROM dev GROUP BY event_type),
outl AS (
  SELECT d.event_type,
    SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS n_outliers
  FROM dev d JOIN mad m ON d.event_type = m.event_type
  GROUP BY d.event_type)
SELECT o.event_type, ROUND(m.med, 6) AS med, ROUND(m.mad, 6) AS mad,
  m.n, o.n_outliers
FROM outl o JOIN mad m ON o.event_type = m.event_type
"""


def q_interval_merge_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval consolidation (the calendar/uptime-merge
    primitive): each event opens a 5-minute activity interval; per user,
    intervals that overlap or touch merge into islands via the running-max
    -of-end trick (a new island starts when ts > max end so far). All
    exact integer microseconds. One shuffle (partition by user) + two
    ordered window passes + one aggregation — no self-join, linear in
    events, the standard scale-safe formulation."""
    span_us = 300_000_000  # 5 minutes
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(span_us)).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = ev.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_us"), F.max("e").alias("end_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(F.col("end_us") - F.col("start_us")).alias("total_active_us"),
        F.max(F.col("end_us") - F.col("start_us")).alias("max_island_us"),
    )


_INTERVAL_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e, event_id
  FROM events),
flagged AS (
  SELECT *, CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY user_id
      ORDER BY s, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      -9223372036854775808) THEN 1 ELSE 0 END AS new_island
  FROM ev),
islands AS (
  SELECT *, SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged),
per_island AS (
  SELECT user_id, island, MIN(s) AS start_us, MAX(e) AS end_us
  FROM islands GROUP BY user_id, island)
SELECT user_id, COUNT(*) AS n_islands,
  SUM(end_us - start_us) AS total_active_us,
  MAX(end_us - start_us) AS max_island_us
FROM per_island GROUP BY user_id
"""


def q_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase is credited to the user's
    EARLIEST click in the preceding 7 days, found with an event-time RANGE
    frame (order by epoch-micros, range 7d preceding .. current row) — no
    as-of self-join, one window pass. Daily rollup reports purchases,
    attributed purchases, and the mean click->purchase latency (exact
    integer-microsecond sum / count, divided once in double)."""
    week_us = 7 * 24 * 3600 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.to_date("ts").alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-week_us, 0)
    )
    attributed = (
        ev.withColumn(
            "first_click_us",
            F.min(
                F.when(F.col("event_type") == "click", F.col("us"))
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
    )
    return attributed.groupBy("d").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.col("first_click_us").isNotNull().cast("int")).alias("n_attributed"),
        F.round(
            F.sum(F.col("us") - F.col("first_click_us")).cast("double")
            / F.sum(F.col("first_click_us").isNotNull().cast("int")),
            1,
        ).alias("avg_latency_us"),
    )


_ATTRIB_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, CAST(ts AS DATE) AS d
  FROM events),
attributed AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' THEN us END) OVER (
      PARTITION BY user_id ORDER BY us
      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS first_click_us
  FROM ev)
SELECT d, COUNT(*) AS n_purchases,
  SUM(CASE WHEN first_click_us IS NOT NULL THEN 1 ELSE 0 END) AS n_attributed,
  ROUND(CAST(SUM(us - first_click_us) AS DOUBLE)
        / SUM(CASE WHEN first_click_us IS NOT NULL THEN 1 ELSE 0 END), 1)
    AS avg_latency_us
FROM attributed WHERE event_type = 'purchase' GROUP BY d
"""


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue, in
    exact integer parts-per-million (nation_cents * 1e6 DIV region_cents)
    — the integer-floor idiom again, so no float division or ROUND can
    drift. One fact aggregation keyed by nation + broadcast dims + one
    window sum over the 25-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_nation = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
    )
    w = Window.partitionBy("r_name")
    return per_nation.withColumn(
        "region_cents", F.sum("rev_cents").over(w)
    ).select(
        "r_name",
        "n_name",
        "rev_cents",
        F.expr("(rev_cents * 1000000) DIV region_cents").alias("share_ppm"),
    )


_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name),
tot AS (
  SELECT *, SUM(rev_cents) OVER (PARTITION BY r_name) AS region_cents
  FROM per_nation)
SELECT r_name, n_name, rev_cents,
  (rev_cents * 1000000) // region_cents AS share_ppm
FROM tot
"""


def q_yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth in exact integer basis points:
    (year_cents - prev_cents) * 10000 DIV prev_cents. lag() over the
    per-year aggregate (a handful of rows) — the canonical reporting
    query, float-free."""
    o = _t(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents")
    )
    w = Window.orderBy("yr")
    return (
        yearly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .withColumn(
            "growth_bp",
            F.expr("(rev_cents - prev_cents) * 10000 DIV prev_cents"),
        )
        .select("yr", "rev_cents", "prev_cents", "growth_bp")
    )


_YOY_SQL = """
WITH yearly AS (
  SELECT year(o_orderdate) AS yr,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1),
lagged AS (
  SELECT *, LAG(rev_cents) OVER (ORDER BY yr) AS prev_cents FROM yearly)
SELECT yr, rev_cents, prev_cents,
  (rev_cents - prev_cents) * 10000 // prev_cents AS growth_bp
FROM lagged
"""


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day, with EXACT sliding
    distinct counts: each active (day, user) pair fans out to the 7 target
    days it supports via explode(sequence(...)) and a count_distinct per
    target day — an equi-shuffle formulation (dedup -> bounded 7x explode
    -> groupBy), not an inequality self-join and not a window (Spark has
    no COUNT(DISTINCT) over frames). Stickiness is integer ppm, the
    float-free ratio idiom. Scales as 7x the (day,user) dedup output,
    which is already tiny next to the event log."""
    ev = _t(spark, sf_dir, "events")
    day_users = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    bounds = ev.agg(F.max(F.to_date("ts")).alias("max_d"))
    fanned = (
        day_users.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d"), F.date_add(F.col("d"), 6), F.expr("interval 1 day")
                )
            ).alias("target_d"),
            F.col("d").alias("active_d"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("target_d") <= F.col("max_d"))
    )
    per_day = fanned.groupBy("target_d").agg(
        F.count_distinct("user_id").alias("wau"),
        F.count_distinct(
            F.when(F.col("active_d") == F.col("target_d"), F.col("user_id"))
        ).alias("dau"),
    )
    return per_day.select(
        F.col("target_d").alias("d"),
        "dau",
        "wau",
        F.expr("(dau * 1000000) DIV wau").alias("stickiness_ppm"),
    ).filter(F.col("dau") > 0)


_DAUWAU_SQL = """
WITH day_users AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
bounds AS (SELECT MAX(CAST(ts AS DATE)) AS max_d FROM events),
fanned AS (
  SELECT user_id, d AS active_d,
    CAST(unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))
         AS DATE) AS target_d
  FROM day_users),
per_day AS (
  SELECT target_d,
    COUNT(DISTINCT user_id) AS wau,
    COUNT(DISTINCT CASE WHEN active_d = target_d THEN user_id END) AS dau
  FROM fanned, bounds WHERE target_d <= max_d
  GROUP BY target_d)
SELECT target_d AS d, dau, wau, (dau * 1000000) // wau AS stickiness_ppm
FROM per_day WHERE dau > 0
"""


def q_priority_topn_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-with-others reporting rollup: per order year, the two most
    frequent order priorities keep their own rows and everything else
    collapses into an OTHER bucket — the standard dashboard legend shape.
    Rank ties break on the priority string so the cut is a total order.
    One aggregation + one small window over the (year x priority) grid +
    one re-aggregation; all integer counts."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy(
        F.year("o_orderdate").alias("yr"), "o_orderpriority"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("yr").orderBy(F.desc("n"), "o_orderpriority")
    ranked = counts.withColumn("rk", F.row_number().over(w))
    return (
        ranked.withColumn(
            "bucket",
            F.when(F.col("rk") <= 2, F.col("o_orderpriority")).otherwise(
                F.lit("OTHER")
            ),
        )
        .groupBy("yr", "bucket")
        .agg(F.sum("n").alias("n_orders"), F.count("*").alias("n_priorities"))
    )


_TOPN_OTHER_SQL = """
WITH counts AS (
  SELECT year(o_orderdate) AS yr, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY 1, 2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY yr
    ORDER BY n DESC, o_orderpriority) AS rk
  FROM counts)
SELECT yr,
  CASE WHEN rk <= 2 THEN o_orderpriority ELSE 'OTHER' END AS bucket,
  SUM(n) AS n_orders, COUNT(*) AS n_priorities
FROM ranked GROUP BY 1, 2
"""


def q_window_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking/navigation window functions in one pass over
    the per-customer revenue aggregate, partitioned by market segment:
    rank, dense_rank, percent_rank, cume_dist, first_value, nth_value(2)
    and the gap to the segment leader. The ordering is a total order
    (monetary desc, custkey) so every function is engine-deterministic;
    percent_rank/cume_dist are exact (k-1)/(n-1) rationals computed the
    same way on both sides. One fact aggregation + one window over the
    |customers| aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
    )
    # (rev_cents desc, custkey) is a TOTAL order, so rank == dense_rank
    # == row_number, cume_dist = rn/n and percent_rank = (rn−1)/(n−1);
    # leader/runner-up are the rn=1/rn=2 values broadcast back (≤2 rows
    # per segment). The 5-segment enum would fan the per-customer frame
    # into 5 tasks under a plain partitioned window, so rn is the
    # distributed grouped row_number.
    rked = RK.grouped_row_number(
        per_cust, ["c_mktsegment"], [F.desc("rev_cents"), "c_custkey"],
        col_name="__rn",
    )
    totals = rked.groupBy("c_mktsegment").agg(F.count("*").alias("__n"))
    lead1 = rked.filter(F.col("__rn") == 1).select(
        "c_mktsegment", F.col("rev_cents").alias("__lead")
    )
    lead2 = rked.filter(F.col("__rn") == 2).select(
        "c_mktsegment", F.col("rev_cents").alias("__lead2")
    )
    out = (
        rked.join(F.broadcast(totals), "c_mktsegment")
        .join(F.broadcast(lead1), "c_mktsegment")
        .join(F.broadcast(lead2), "c_mktsegment", "left")
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "rev_cents",
        F.col("__rn").cast("int").alias("rnk"),
        F.col("__rn").cast("int").alias("drnk"),
        F.round(
            (F.col("__rn") - 1).cast("double")
            / F.greatest(F.col("__n") - 1, F.lit(1)).cast("double"),
            6,
        ).alias("pct_rank"),
        F.round(
            F.col("__rn").cast("double") / F.col("__n").cast("double"), 6
        ).alias("cume"),
        F.col("__lead").alias("leader_cents"),
        # nth_value(2) over the running frame is NULL at the first row
        # (its frame holds one row), then the rn=2 value
        F.when(F.col("__rn") >= 2, F.col("__lead2")).alias("runnerup_cents"),
        (F.col("__lead") - F.col("rev_cents")).alias("gap_to_leader"),
    )


_WINFUNCS_SQL = """
WITH per_cust AS (
  SELECT c_custkey, c_mktsegment,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment)
SELECT c_custkey, c_mktsegment, rev_cents,
  RANK() OVER w AS rnk,
  DENSE_RANK() OVER w AS drnk,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume,
  FIRST_VALUE(rev_cents) OVER wf AS leader_cents,
  NTH_VALUE(rev_cents, 2) OVER wf AS runnerup_cents,
  FIRST_VALUE(rev_cents) OVER wf - rev_cents AS gap_to_leader
FROM per_cust
WINDOW
  w AS (PARTITION BY c_mktsegment ORDER BY rev_cents DESC, c_custkey),
  wf AS (PARTITION BY c_mktsegment ORDER BY rev_cents DESC, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


_SQL_API_REPORT = """
WITH monthly AS (
  SELECT n_name,
    date_trunc('month', CAST(o_orderdate AS DATE)) AS mo,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS gross,
    COUNT(*) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderstatus <> 'F'
  GROUP BY n_name, date_trunc('month', CAST(o_orderdate AS DATE))),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY mo
      ORDER BY gross DESC, n_name) AS rk
  FROM monthly)
SELECT CAST(mo AS DATE) AS mo, n_name, ROUND(gross, 2) AS gross, n_orders
FROM ranked WHERE rk <= 3
"""


def q_sql_api_monthly_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL front end: the exact report text runs through
    spark.sql() over registered temp views — same string (modulo nothing)
    DuckDB executes as the oracle. Demonstrates that the engine's SQL
    surface, not just the DataFrame combinators, is ANSI-portable:
    CTEs, named windows, month truncation, top-k per group."""
    for t in ["orders", "customer", "nation"]:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_REPORT)



def _daily_cents(o: DataFrame, alias: str = "cents") -> DataFrame:
    """Day-grain exact-cents revenue series (d, <alias>) from orders —
    the shared input of the CUSUM/ACF/runs/Bollinger/drawdown/Haar
    time-series statistics family."""
    return o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(alias)
    )

def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: parts co-purchased in the same order, with
    association lift. The pair generation is a self-join of the distinct
    (order, part) item set on the order key — per-order blowup is bounded
    by the order's line count (<= 7 in TPC-H), so the shuffle stays
    linear in |lineitem| at any scale. Lift is emitted as an EXACT
    integer (parts-per-million, floor division) so the cross-engine hash
    needs no float formatting: lift_ppm = n12 * N * 1e6 div (n1 * n2).
    int64-safe through sf~10 (n12*N*1e6 ~ 1e17); the decimal upgrade is
    a one-line cast. Top 50 by support with full tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    # tiny derived aggregates: materialize once so the per-order fold and
    # the count frames do not re-expand the distinct's subtree (cf.
    # triangles lesson)
    items = items.localCheckpoint(eager=True)
    n_orders = items.select(F.count_distinct("ok").alias("n"))
    item_counts = items.groupBy("pk").agg(F.count("*").alias("cnt"))
    # r12 (guide §2.4 — remove a shuffle outright): the a/b self-join on
    # the order key shuffled the item set TWICE (both join sides) before
    # the pair groupBy. Per-order baskets are bounded (≤7 lines in
    # TPC-H), so fold each order's parts into one sorted array (ONE hash
    # shuffle) and expand the i<j pairs in-plan with higher-order
    # functions — identical pair multiset (sort_array of the distinct
    # set ⇒ strictly increasing ⇒ pk1 < pk2), JVM codegen, no join.
    baskets = items.groupBy("ok").agg(
        F.sort_array(F.collect_set("pk")).alias("pks")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("pks"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("pks"), i + 2, F.greatest(F.size("pks") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count("*").alias("n12"))
        .filter(F.col("n12") >= 2)
    )
    return (
        pairs.join(F.broadcast(item_counts.withColumnRenamed("cnt", "n1")), pairs.p1 == F.col("pk"))
        .drop("pk")
        .join(F.broadcast(item_counts.withColumnRenamed("cnt", "n2")), F.col("p2") == F.col("pk"))
        .drop("pk")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1", "p2", "n12", "n1", "n2",
            F.expr("(n12 * n * 1000000L) div (n1 * n2)").alias("lift_ppm"),
        )
        .orderBy(F.desc("n12"), F.desc("lift_ppm"), "p1", "p2")
        .limit(50)
    )


_BASKET_SQL = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n_orders AS (SELECT COUNT(DISTINCT ok) AS n FROM items),
item_counts AS MATERIALIZED (SELECT pk, COUNT(*) AS cnt FROM items GROUP BY pk),
pair_counts AS (
  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n12
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT p1, p2, n12, c1.cnt AS n1, c2.cnt AS n2,
  (n12 * n * 1000000) // (c1.cnt * c2.cnt) AS lift_ppm
FROM pair_counts
JOIN item_counts c1 ON p1 = c1.pk
JOIN item_counts c2 ON p2 = c2.pk
CROSS JOIN n_orders
ORDER BY n12 DESC, lift_ppm DESC, p1, p2 LIMIT 50
"""


def q_regression_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (regr_slope/regr_intercept twin) of
    monthly revenue on a month index, one slope per nation. Native
    regr_* stream doubles and are not cross-engine reproducible; instead
    the five power sums (n, Σx, Σy, Σxy, Σx²) are EXACT integers (x =
    month index, y = cents), and the slope/intercept algebra runs on
    exact int64 numerators/denominators with one final double division —
    bit-identical across engines. One fact aggregation (month grain) +
    one 25-row aggregation; sums stay int64-safe through sf~10."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            (
                (F.year(F.col("o_orderdate").cast("date")) - F.lit(1992)) * 12
                + F.month(F.col("o_orderdate").cast("date")) - 1
            ).alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("n_name", "x")
        .agg(F.sum("cents").alias("y"))
    )
    sums = monthly.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "n_name",
        "n",
        F.round(num.cast("double") / den.cast("double"), 6).alias("slope_cents_per_month"),
        F.round(
            (F.col("sy") * den - num * F.col("sx")).cast("double")
            / (F.col("n") * den).cast("double"),
            6,
        ).alias("intercept_cents"),
    )


_REGRESSION_SQL = """
WITH monthly AS (
  SELECT n_name,
    (year(CAST(o_orderdate AS DATE)) - 1992) * 12
      + month(CAST(o_orderdate AS DATE)) - 1 AS x,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
sums AS (
  SELECT n_name, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM monthly GROUP BY 1)
SELECT n_name, n,
  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents_per_month,
  ROUND(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
        / CAST(n * (n * sxx - sx * sx) AS DOUBLE), 6) AS intercept_cents
FROM sums
"""


def q_chi_square_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the market-segment ×
    order-priority contingency table, computed with window marginals
    (zero extra joins: one fact aggregation to the 25-cell table, then
    three window sums over it). Counts are exact integers; expected
    value and the chi² contribution are evaluated with explicit
    multiplication (no POWER) in double from those integers — identical
    IEEE results on both engines, rounded at 6dp."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").alias("obs"))
    )
    w_seg = Window.partitionBy("seg")
    w_pri = Window.partitionBy("pri")
    w_all = Window.partitionBy()
    with_marg = cells.select(
        "seg", "pri", "obs",
        F.sum("obs").over(w_seg).alias("row_tot"),
        F.sum("obs").over(w_pri).alias("col_tot"),
        F.sum("obs").over(w_all).alias("n"),
    )
    exp = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast("double")
    dev = F.col("obs").cast("double") - exp
    return with_marg.select(
        "seg", "pri", "obs",
        F.round(exp, 6).alias("expected"),
        F.round(dev * dev / exp, 6).alias("chi2_contrib"),
    )


_CHI2_SQL = """
WITH cells AS (
  SELECT c_mktsegment AS seg, o_orderpriority AS pri, COUNT(*) AS obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
marg AS (
  SELECT seg, pri, obs,
    SUM(obs) OVER (PARTITION BY seg) AS row_tot,
    SUM(obs) OVER (PARTITION BY pri) AS col_tot,
    SUM(obs) OVER () AS n
  FROM cells)
SELECT seg, pri, obs,
  ROUND(CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
  ROUND((CAST(obs AS DOUBLE) - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
        * (CAST(obs AS DOUBLE) - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
        / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS chi2_contrib
FROM marg
"""


def q_cusum_breakpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point candidates on the daily revenue series: the
    cumulative deviation from the global mean, S_t = Σ_{i<=t}(x_i - x̄),
    peaks where the level shifts. Computed INTEGER-EXACT by scaling by n
    (S_t·n = n·P_t - t·T with P_t the cents prefix sum, T the total):
    no mean division, no doubles anywhere. One day-grain aggregation,
    one global-order window (day count rows, not fact rows), top 10 by
    |S·n| with date tie-break. n·P_t stays int64 through sf~100."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "cents")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d", "cents",
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.sum("cents").over(w).alias("p"),
    )
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("cents").alias("t")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "d", "cents",
            (F.col("n") * F.col("p") - F.col("i") * F.col("t")).alias("s_scaled"),
        )
        .orderBy(F.abs(F.col("s_scaled")).desc(), "d")
        .limit(10)
    )


_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS t FROM daily),
cum AS (
  SELECT d, cents, ROW_NUMBER() OVER (ORDER BY d) AS i,
         SUM(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM daily)
SELECT d, cents, n * p - i * t AS s_scaled
FROM cum CROSS JOIN tot
ORDER BY ABS(n * p - i * t) DESC, d LIMIT 10
"""


def q_event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (order-3): the most frequent event-type
    trigrams across per-user timelines. Two LEADs over the (user, time)
    window — the ordering is a total order (ts, event_id) so the
    sequence is engine-deterministic — then one count aggregation over
    at most |types|³ groups. Scales as one shuffle keyed by user plus
    one tiny aggregation; no per-user collect."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(20)
    )


_TRIGRAM_SQL = """
WITH seq AS (
  SELECT event_type AS e1,
    LEAD(event_type, 1) OVER w AS e2,
    LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1 || '>' || e2 || '>' || e3 AS trigram, COUNT(*) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20
"""


def q_khop_nation_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop reachability (<= 4 hops) over the DIRECTED trade
    graph (supplier nation -> customer nation, edges kept where pair
    volume beats 1.05x the mean), from the hub: the nation with the
    most qualifying out-edges (tie-break: lowest key). The Spark side runs
    the iterative frontier-expansion BFS operator
    (operators/graph.bfs_distances); the oracle is a DuckDB RECURSIVE
    CTE over the identical edge derivation — an iterative DataFrame
    loop hash-checked against recursive SQL. Edge volumes use the exact
    decimal-sum shape, so the threshold comparison sees bit-identical
    doubles on both sides (same guarantee the triangle census relies
    on). The thresholded edge list (<= |nations|²) is collected once,
    so BFS rounds never re-run the fact aggregation."""
    from ..operators.graph import bfs_distances

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
    )
    # vol feeds both the mean and the edge filter; without a cut the
    # 3-table fact join subtree would be derived twice in one action
    # (cf. triangles lesson). ≤ |nations|² rows, so the checkpoint is tiny.
    vol = vol.localCheckpoint(eager=True)
    mean_vol = vol.select((_dsum(F.col("volume")) / F.count("*")).alias("mv"))
    edge_rows = _collect_bounded_edges(
        vol.crossJoin(F.broadcast(mean_vol))
        .filter(F.col("volume") > 1.05 * F.col("mv"))
        .select("src", "dst"),
        "khop_nation_reachability",
    )
    edges = spark.createDataFrame(
        [(r.src, r.dst) for r in edge_rows] or [(None, None)], "src int, dst int"
    ).filter(F.col("src").isNotNull())
    out_deg: dict[int, int] = {}
    for r in edge_rows:
        out_deg[r.src] = out_deg.get(r.src, 0) + 1
    hub = min(out_deg, key=lambda k: (-out_deg[k], k)) if out_deg else 0
    return bfs_distances(edges, hub).orderBy("dist", "node")


_KHOP_SQL = """
WITH RECURSIVE vol AS MATERIALIZED (
  SELECT s_nationkey AS src, c_nationkey AS dst,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10)))
         AS DOUBLE) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey <> c_nationkey
  GROUP BY 1, 2),
mv AS (
  SELECT CAST(SUM(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS mv
  FROM vol),
edges AS MATERIALIZED (
  SELECT CAST(src AS INT) AS src, CAST(dst AS INT) AS dst
  FROM vol, mv WHERE volume > 1.05 * mv),
hub AS (
  SELECT src AS h FROM edges GROUP BY src
  ORDER BY COUNT(*) DESC, src LIMIT 1),
hops AS (
  SELECT (SELECT h FROM hub) AS node, 0 AS dist
  UNION ALL
  SELECT e.dst, h.dist + 1
  FROM hops h JOIN edges e ON e.src = h.node
  WHERE h.dist < 4)
SELECT node, CAST(MIN(dist) AS INT) AS dist
FROM hops GROUP BY node ORDER BY dist, node
"""


def q_fifo_attribution_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO supply/demand matching (queue attribution / cost-basis
    allocation): each user's purchase spend consumes their view budget
    strictly first-in-first-out. The classic sequential algorithm becomes
    a set-based interval-overlap join: cumulative cents turn each view
    (supply) and purchase (demand) into a half-open interval, and FIFO
    matches are exactly the pairwise interval overlaps. Everything is
    int64 (cents prefix sums over a total (ts, event_id) order), the
    overlap join is equi on user + range on the cumsums, and output size
    is O(|events|) because FIFO chains are monotone. The 100 TB shape:
    one shuffle by user for the windows, one co-partitioned self-join."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def intervals(df: DataFrame, typ: str, idx: str, lo: str, hi: str) -> DataFrame:
        return (
            df.filter(F.col("event_type") == typ)
            .select(
                "user_id", "ts", "event_id",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
            .select(
                "user_id",
                F.row_number().over(w).alias(idx),
                (F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)) - F.col("cents")).alias(lo),
                F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(hi),
            )
        )

    sup = intervals(ev, "view", "s_idx", "s_lo", "s_hi").alias("s")
    dem = intervals(ev, "purchase", "d_idx", "d_lo", "d_hi").alias("d")
    return (
        sup.join(
            dem,
            (F.col("s.user_id") == F.col("d.user_id"))
            & (F.col("s_lo") < F.col("d_hi"))
            & (F.col("d_lo") < F.col("s_hi")),
        )
        .select(
            F.col("s.user_id").alias("user_id"),
            "d_idx", "s_idx",
            (F.least("s_hi", "d_hi") - F.greatest("s_lo", "d_lo")).alias("matched_cents"),
        )
    )


_FIFO_SQL = """
WITH sup AS (
  SELECT user_id,
    ROW_NUMBER() OVER w AS s_idx,
    SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
      - CAST(ROUND(value * 100) AS BIGINT) AS s_lo,
    SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS s_hi
  FROM events WHERE event_type = 'view'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
dem AS (
  SELECT user_id,
    ROW_NUMBER() OVER w AS d_idx,
    SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
      - CAST(ROUND(value * 100) AS BIGINT) AS d_lo,
    SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS d_hi
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT s.user_id, d_idx, s_idx,
  LEAST(s_hi, d_hi) - GREATEST(s_lo, d_lo) AS matched_cents
FROM sup s JOIN dem d
  ON s.user_id = d.user_id AND s_lo < d_hi AND d_lo < s_hi
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label covariance matrix entries for the first four embedding
    dimensions (feature-correlation screening before training). Native
    covar_pop streams doubles and is not reproducible; here each of the
    10 (i<=j) entries comes from exact decimal power sums (n, Σxi, Σxj,
    Σxixj) with the algebra done once in double — the same pattern as
    stats_moments, extended to array columns. Products are formed in
    double from exact float->double casts, so both engines hand the same
    values to the decimal accumulator. One scan, one aggregation."""
    em = _t(spark, sf_dir, "embeddings")
    dims = [F.col("embedding")[i].cast("double").alias(f"x{i}") for i in range(4)]
    base = em.select("label", *dims)
    aggs = [F.count("*").alias("n")]
    for i in range(4):
        aggs.append(F.sum(F.col(f"x{i}").cast("decimal(38,10)")).cast("double").alias(f"s{i}"))
    for i in range(4):
        for j in range(i, 4):
            aggs.append(
                F.sum((F.col(f"x{i}") * F.col(f"x{j}")).cast("decimal(38,10)"))
                .cast("double")
                .alias(f"p{i}{j}")
            )
    sums = base.groupBy("label").agg(*aggs)
    rows = []
    for i in range(4):
        for j in range(i, 4):
            cov = (
                F.col(f"p{i}{j}") / F.col("n")
                - (F.col(f"s{i}") / F.col("n")) * (F.col(f"s{j}") / F.col("n"))
            )
            rows.append(
                sums.select(
                    "label", F.lit(i).alias("i"), F.lit(j).alias("j"),
                    F.round(cov, 6).alias("cov"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _emb_cov_sql() -> str:
    cells = []
    for i in range(4):
        for j in range(i, 4):
            cells.append(
                f"SELECT label, {i} AS i, {j} AS j, "
                f"ROUND(p{i}{j} / n - (s{i} / n) * (s{j} / n), 6) AS cov FROM sums"
            )
    sum_cols = ["COUNT(*) AS n"] + [
        f"CAST(SUM(CAST(x{i} AS DECIMAL(38,10))) AS DOUBLE) AS s{i}" for i in range(4)
    ] + [
        f"CAST(SUM(CAST(x{i} * x{j} AS DECIMAL(38,10))) AS DOUBLE) AS p{i}{j}"
        for i in range(4) for j in range(i, 4)
    ]
    dim_cols = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(4)
    )
    return (
        f"WITH base AS (SELECT label, {dim_cols} FROM embeddings),\n"
        f"sums AS (SELECT label, {', '.join(sum_cols)} FROM base GROUP BY label)\n"
        + "\nUNION ALL\n".join(cells)
    )


_EMB_COV_SQL = _emb_cov_sql()

# Benford's-law expected first-digit probabilities, hardcoded as exact
# decimal literals on BOTH sides so no engine ever evaluates log10.
_BENFORD_P = {
    1: "0.301029995664", 2: "0.176091259056", 3: "0.124938736608",
    4: "0.096910013008", 5: "0.079181246048", 6: "0.066946789631",
    7: "0.057991946978", 8: "0.051152522447", 9: "0.045757490561",
}


def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law fraud screen on order totals: observed first-
    significant-digit counts vs the log-law expectation, with per-digit
    chi² contributions. The first digit is taken from the cents integer
    (scaling by 100 never changes the first significant digit of a
    positive value). Expected probabilities are shared 12-dp literals —
    no log10 call in either engine — so expected counts and chi² terms
    are identical doubles. One scan, 9 output rows."""
    o = _t(spark, sf_dir, "orders")
    digits = (
        o.select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("obs"))
    )
    probs = spark.createDataFrame(
        [(d, float(p)) for d, p in _BENFORD_P.items()], "digit int, p double"
    )
    n_tot = digits.agg(F.sum("obs").alias("n"))
    exp = F.col("p") * F.col("n").cast("double")
    dev = F.col("obs").cast("double") - exp
    return (
        digits.join(F.broadcast(probs), "digit")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "digit", "obs",
            F.round(exp, 4).alias("expected"),
            F.round(dev * dev / exp, 6).alias("chi2_contrib"),
        )
    )


_BENFORD_SQL = (
    "WITH digits AS (\n"
    "  SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,\n"
    "         COUNT(*) AS obs\n"
    "  FROM orders GROUP BY 1),\n"
    "probs AS (SELECT * FROM (VALUES "
    # 'e0' forces a DOUBLE literal (correctly-rounded parse) — a bare
    # decimal literal would go through DECIMAL and double-round
    + ", ".join(f"({d}, {p}e0)" for d, p in _BENFORD_P.items())
    + ") AS t(digit, p)),\n"
    "tot AS (SELECT SUM(obs) AS n FROM digits)\n"
    "SELECT d.digit, obs,\n"
    "  ROUND(p * CAST(n AS DOUBLE), 4) AS expected,\n"
    "  ROUND((CAST(obs AS DOUBLE) - p * CAST(n AS DOUBLE))\n"
    "        * (CAST(obs AS DOUBLE) - p * CAST(n AS DOUBLE))\n"
    "        / (p * CAST(n AS DOUBLE)), 6) AS chi2_contrib\n"
    "FROM digits d JOIN probs ON d.digit = probs.digit CROSS JOIN tot\n"
)


def q_pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) concentration per nation: the smallest customer
    count whose cumulative revenue reaches 80% of the nation total, and
    that count as exact ppm of the customer base. The 80% threshold is
    the integer comparison 5·cum >= 4·total (no percentage doubles),
    revenue is exact cents, ranking has a custkey tie-break, and the
    share is floor-division ppm — every output column is an integer.
    One fact aggregation + one per-nation window."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    # the 25-nation enum would fan the per-customer frame into 25 tasks
    # under plain partitioned windows: rank + cumulative revenue come
    # from the distributed grouped primitives; totals/counts are
    # max(cum)/count off the same frame, broadcast back (≤25 rows).
    # max(cum)-as-total REQUIRES the summed values be non-negative
    # (cents ≥ 0 here) — on signed values the running sum is not
    # monotone and max() would NOT be the total; use the last row's
    # cumulative (order-based) instead.
    order = [F.desc("cents"), F.col("c_custkey")]
    # one driver-side count routes BOTH primitives (row_number preserves
    # the row count, so the proof extends; each fast path still re-proves
    # its bound in-plan via the rowcap assert)
    if RK.dispatch_small(per_cust, caller="pareto_revenue_concentration"):
        rked = RK.bounded_rows_row_number(
            per_cust, ["n_name"], order, caller="pareto_revenue_concentration",
        )
        cum = RK.bounded_rows_running_sum(
            rked, ["n_name"], order, ["cents"], ["cum"],
            caller="pareto_revenue_concentration",
        )
    else:
        rked = RK.grouped_row_number(per_cust, ["n_name"], order, col_name="rk")
        cum = RK.grouped_running_sum(rked, ["n_name"], order, ["cents"], ["cum"])
    agg = cum.groupBy("n_name").agg(
        F.max("cum").alias("total"), F.count("*").alias("n_customers")
    )
    ranked = cum.join(F.broadcast(agg), "n_name")
    return (
        ranked.filter(5 * F.col("cum") >= 4 * F.col("total"))
        .groupBy("n_name")
        .agg(
            F.min("rk").alias("n_top80"),
            F.first("n_customers").alias("n_customers"),
        )
        .select(
            "n_name", "n_top80", "n_customers",
            F.expr("(n_top80 * 1000000L) div n_customers").alias("share_ppm"),
        )
    )


_PARETO_SQL = """
WITH per_cust AS (
  SELECT n_name, c_custkey,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT n_name,
    ROW_NUMBER() OVER w AS rk,
    SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(cents) OVER (PARTITION BY n_name) AS total,
    COUNT(*) OVER (PARTITION BY n_name) AS n_customers
  FROM per_cust
  WINDOW w AS (PARTITION BY n_name ORDER BY cents DESC, c_custkey))
SELECT n_name, MIN(rk) AS n_top80, MIN(n_customers) AS n_customers,
  (MIN(rk) * 1000000) // MIN(n_customers) AS share_ppm
FROM ranked WHERE 5 * cum >= 4 * total
GROUP BY n_name
"""


def q_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue within each nation (the
    Lorenz-curve inequality measure). Sorted-rank formula G =
    (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) on exact cents with a custkey
    tie-break, so both engines rank identically; the two accumulators
    are int64 (Σi·x ≈ n²·x̄/2 stays under 2^63 through sf~1, decimal
    upgrade beyond). One fact aggregation + one per-nation window."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    # per-nation sorted ranks via the distributed grouped row_number —
    # a window partitioned by the 25-nation enum would fan the
    # per-customer frame into 25 tasks at any cluster size
    ranked = RK.grouped_row_number(
        per_cust, ["n_name"], ["cents", "c_custkey"], col_name="i"
    )
    sums = ranked.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"),
    )
    return sums.select(
        "n_name", "n",
        F.round(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast("double")
            / (F.col("n") * F.col("sx")).cast("double"),
            6,
        ).alias("gini"),
    )


_GINI_SQL = """
WITH per_cust AS (
  SELECT n_name, c_custkey,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT n_name, cents,
    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cents, c_custkey) AS i
  FROM per_cust),
sums AS (
  SELECT n_name, COUNT(*) AS n, SUM(cents) AS sx, SUM(i * cents) AS six
  FROM ranked GROUP BY 1)
SELECT n_name, n,
  ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
        / CAST(n * sx AS DOUBLE), 6) AS gini
FROM sums
"""


def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags
    1..14 (seasonality detection for the forecasting surface). Per-lag
    Pearson correlation over the index-aligned pairs: the series gets a
    dense row index, joins itself at offset k for all 14 lags via a
    lags spine, and every power sum (Σx, Σy, Σxy, Σx², Σy²) is an
    exact decimal accumulation of int64 cents products — the corr
    algebra runs once in double per lag (the stats_moments recipe).
    Products fit int64 through sf~0.5; cast-before-multiply upgrades
    beyond. Two shuffles (day grain, lag-join) regardless of scale."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "x")
    series = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "x"
    )
    lags = spark.range(1, 15).select(F.col("id").cast("int").alias("k"))
    a, b = series.alias("a"), series.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.i") == F.col("a.i") + F.col("k"))
        .select("k", F.col("a.x").alias("x"), F.col("b.x").alias("y"))
    )
    # cast to decimal BEFORE multiplying: an int64 cents product wraps
    # silently in non-ANSI Spark beyond ~sf0.5 while DuckDB raises, so
    # the divergence would be silent-wrong vs loud-fail. decimal(19,0)
    # operands keep the product width at 38 in both engines.
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
    return sums.select("k", "n", F.round(num / den, 6).alias("acf"))


_ACF_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
series AS (SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM daily),
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
  FROM pairs GROUP BY k)
SELECT k, n,
  ROUND((n * sxy - sx * sy)
        / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
FROM sums
"""


def q_survival_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis (Kaplan-Meier ingredients) for
    signup -> first purchase: for each day-offset t with at least one
    conversion, the number at risk, the conversions, and the hazard
    d_t/n_t as exact ppm. Censoring: users who signed up but never
    purchased exit at the global last-observed date. n_t is a reversed
    cumulative sum over the per-day exit counts — one user-grain
    aggregation plus one tiny window; no per-user driver loop."""
    ev = _t(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    first_purchase = (
        signup.join(purchase, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("h"))
    exits = (
        signup.join(first_purchase, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date")),
            )
            .otherwise(F.datediff(F.col("h"), F.col("t0").cast("date")))
            .alias("t"),
            F.col("t1").isNotNull().cast("int").alias("converted"),
        )
        # t is a day offset between two in-corpus dates — bounded by the
        # calendar span (grows with time, not data volume); the census
        # proves it through the CASE rule (every branch is a datediff)
        .groupBy("t")
        .agg(
            F.count("*").alias("n_exits"),
            F.sum("converted").alias("d_events"),
        )
    )
    w_rev = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        exits.select(
            "t", "d_events", F.sum("n_exits").over(w_rev).alias("n_risk")
        )
        .filter(F.col("d_events") > 0)
        .select(
            "t", "n_risk", "d_events",
            F.expr("(d_events * 1000000L) div n_risk").alias("hazard_ppm"),
        )
    )


_SURVIVAL_SQL = """
WITH signup AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
first_purchase AS (
  SELECT s.user_id, MIN(e.ts) AS t1
  FROM signup s JOIN events e ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.t0
  GROUP BY s.user_id),
horizon AS (SELECT MAX(CAST(ts AS DATE)) AS h FROM events),
exits AS (
  SELECT
    CASE WHEN t1 IS NOT NULL
         THEN date_diff('day', CAST(t0 AS DATE), CAST(t1 AS DATE))
         ELSE date_diff('day', CAST(t0 AS DATE), h) END AS t,
    COUNT(*) AS n_exits,
    SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS d_events
  FROM signup LEFT JOIN first_purchase USING (user_id) CROSS JOIN horizon
  GROUP BY 1),
curve AS (
  SELECT t, d_events,
    SUM(n_exits) OVER (ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM exits)
SELECT t, n_risk, d_events,
  (d_events * 1000000) // n_risk AS hazard_ppm
FROM curve WHERE d_events > 0
"""


def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of daily revenue
    direction: day-over-day deltas become a +/- sign sequence (zero
    deltas excluded), runs are counted where consecutive signs differ,
    and the normal-approximation z-score comes from the exact integer
    counts (n⁺, n⁻, R) with the textbook mean/variance formula done
    once in double. Two windows over the day-grain series (delta, then
    lagged sign after the zero-filter); single-row output."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "x")
    w = Window.orderBy("d")
    signs = (
        daily.select("d", (F.col("x") - F.lag("x").over(w)).alias("delta"))
        .filter(F.col("delta").isNotNull() & (F.col("delta") != 0))
        .select("d", F.signum(F.col("delta").cast("double")).cast("int").alias("s"))
    )
    seq = signs.select(
        "s", F.lag("s").over(Window.orderBy("d")).alias("prev")
    )
    counts = seq.agg(
        F.sum((F.col("s") == 1).cast("int")).alias("n_pos"),
        F.sum((F.col("s") == -1).cast("int")).alias("n_neg"),
        (1 + F.sum((F.col("prev").isNotNull() & (F.col("s") != F.col("prev"))).cast("int"))).alias("n_runs"),
    )
    np_, nn, r = (
        F.col("n_pos").cast("double"),
        F.col("n_neg").cast("double"),
        F.col("n_runs").cast("double"),
    )
    mu = 1 + 2 * np_ * nn / (np_ + nn)
    var = (
        2 * np_ * nn * (2 * np_ * nn - np_ - nn)
        / ((np_ + nn) * (np_ + nn) * (np_ + nn - 1))
    )
    return counts.select(
        "n_pos", "n_neg", "n_runs",
        F.round((r - mu) / F.sqrt(var), 6).alias("z_score"),
    )


_RUNS_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
deltas AS (
  SELECT d, x - LAG(x) OVER (ORDER BY d) AS delta FROM daily),
signs AS (
  SELECT d, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS s
  FROM deltas WHERE delta IS NOT NULL AND delta <> 0),
seq AS (
  SELECT s, LAG(s) OVER (ORDER BY d) AS prev FROM signs),
counts AS (
  SELECT
    SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n_pos,
    SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n_neg,
    1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev THEN 1 ELSE 0 END) AS n_runs
  FROM seq)
SELECT n_pos, n_neg, n_runs,
  ROUND((CAST(n_runs AS DOUBLE)
         - (1 + 2.0 * n_pos * n_neg / (n_pos + n_neg)))
        / SQRT(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
               / (CAST(n_pos + n_neg AS DOUBLE) * (n_pos + n_neg) * (n_pos + n_neg - 1))), 6) AS z_score
FROM counts
"""


def q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval ("value table") over a positional token
    index — the capability BM25's bag-of-words ranking cannot express.
    Tokenization is posexplode of the whitespace split; adjacency is one
    LEAD over the (doc, position) window, so phrase hits are counted
    without a positions self-join. Scales as one shuffle keyed by doc;
    the index (doc, pos, token) is the standard inverted-index layout
    a real corpus would persist bucketed by token. Top 20 docs by hit
    count with doc_id tie-break."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    hits = (
        toks.select("doc_id", "tok", F.lead("tok").over(w).alias("nxt"))
        .filter((F.col("tok") == "value") & (F.col("nxt") == "table"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.orderBy(F.desc("n_hits"), "doc_id").limit(20)


_PHRASE_SQL = """
WITH lists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
toks AS (
  -- parallel unnest zips token with its ordinal (no WITH ORDINALITY in
  -- this DuckDB)
  SELECT doc_id, unnest(l) AS tok,
         unnest(generate_series(1, len(l))) AS pos
  FROM lists),
seq AS (
  SELECT doc_id, tok,
    LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks)
SELECT doc_id, COUNT(*) AS n_hits
FROM seq WHERE tok = 'value' AND nxt = 'table'
GROUP BY doc_id ORDER BY n_hits DESC, doc_id LIMIT 20
"""


def q_ccf_order_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between two fact tables' daily series
    — ordered revenue by ORDER date (x) vs shipped quantity by SHIP
    date (y) — at lags -7..+7 (positive k: shipping lags ordering by k
    days; TPC-H ships 1..121 days after ordering, so the physical lag
    structure is real). Same exact-decimal power-sum Pearson as the ACF
    query, but the pairing joins ON CALENDAR DATE shifted by the lag
    spine, so series gaps align correctly rather than by row index.
    Day-grain aggregations on both facts, one lag-join, 15-row output."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dx = _daily_cents(o, "x")
    dy = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("y"))
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("k"))
    pairs = (
        dx.crossJoin(F.broadcast(lags))
        .join(dy.withColumnRenamed("d", "dy"), F.expr("dy = date_add(d, k)"))
        .select("k", "x", "y")
    )
    # cast to decimal BEFORE multiplying: an int64 cents product wraps
    # silently in non-ANSI Spark beyond ~sf0.5 while DuckDB raises, so
    # the divergence would be silent-wrong vs loud-fail. decimal(19,0)
    # operands keep the product width at 38 in both engines.
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
    return sums.select("k", "n", F.round(num / den, 6).alias("ccf"))


_CCF_SQL = """
WITH dx AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
dy AS (
  SELECT CAST(l_shipdate AS DATE) AS d,
    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS y
  FROM lineitem GROUP BY 1),
lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS INT) AS k),
pairs AS (
  SELECT k, x, y
  FROM dx CROSS JOIN lags
  JOIN dy ON dy.d = dx.d + to_days(k)),
sums AS (
  SELECT k, COUNT(*) AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
  FROM pairs GROUP BY k)
SELECT k, n,
  ROUND((n * sxy - sx * sy)
        / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS ccf
FROM sums
"""


def q_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling operator (the DESCRIBE-statistics surface
    every lakehouse engine ships): per column of ``orders`` — row count,
    null count, exact distinct count. A single aggregation computes all
    3×|columns| measures map-side, then unpivots to the long profile
    layout driver-side; nothing rescans the fact per column. Counts are
    integers, so the profile is hash-exact across engines."""
    o = _t(spark, sf_dir, "orders")
    cols = _PROFILE_COLUMNS  # shared with the oracle; fixture drift is
    # caught by tests/test_registry_consistency.py::test_profile_columns
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"dist_{c}"))
    wide = o.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', null_{c}, dist_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (column_name, n_null, n_distinct)",
        "n_rows",
    ).select("column_name", "n_rows", "n_null", "n_distinct")


# ONE canonical column list drives both engines: the Spark query and the
# DuckDB twin cannot diverge on coverage; a registry test pins the list
# to the live fixture schema so silent drift surfaces as a test failure.
_PROFILE_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


def _profile_sql() -> str:
    cols = _PROFILE_COLUMNS
    parts = [
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
        f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_null, "
        f"COUNT(DISTINCT {c}) AS n_distinct FROM orders"
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts)


_PROFILE_SQL = _profile_sql()


def q_percentile_disc_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISCRETE percentiles (p50/p90/p99) of order value per
    market segment: the value physically present at rank ceil(q·n) in
    cents order — no interpolation, so the output is an integer and the
    hash needs no float discipline (the interpolating twin is
    percentiles_by_segment). Both engines use the identical row_number
    formulation; ranking ties break on orderkey. The segment enum would
    fan the fact into 5 tasks under a plain partitioned window, so the
    per-segment rank is the distributed grouped row_number and the
    per-segment totals broadcast back (≤5 rows)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
    )
    rked = RK.grouped_row_number(
        base, ["seg"], ["cents", "o_orderkey"], col_name="rk"
    )
    totals = rked.groupBy("seg").agg(F.count("*").alias("n"))
    ranked = rked.join(F.broadcast(totals), "seg")
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q int")
    return (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rk") == F.ceil(F.col("q") * F.col("n") / 100))
        .select("seg", "q", F.col("cents").alias("value_cents"))
    )


_PCTL_DISC_SQL = """
WITH base AS (
  SELECT c_mktsegment AS seg,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey),
ranked AS (
  SELECT seg, cents,
    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, o_orderkey) AS rk,
    COUNT(*) OVER (PARTITION BY seg) AS n
  FROM base)
SELECT seg, q, cents AS value_cents
FROM ranked CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) qs
WHERE rk = CEIL(q * n / 100.0)
"""


def q_bollinger_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over daily revenue: 20-day trailing mean ± 2σ.
    The sliding frame accumulates exact decimal sums (Σx, Σx² in
    DECIMAL — double add/retract drift differs per engine, decimals
    don't), the mean/σ algebra runs in double once per row, and bands
    are rounded to cents. Population σ over the observed frame (shorter
    at the series head). One day-grain aggregation + one frame window."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "x")
    wf = Window.orderBy("d").rowsBetween(-19, 0)
    framed = daily.select(
        "d", "x",
        F.count("*").over(wf).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).over(wf).cast("double").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).over(wf).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    sigma = F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    return framed.select(
        "d", "x",
        F.round(mean, 2).alias("ma20"),
        F.round(mean - 2 * sigma, 2).alias("band_lo"),
        F.round(mean + 2 * sigma, 2).alias("band_hi"),
    )


_BOLLINGER_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
framed AS (
  SELECT d, x,
    COUNT(*) OVER wf AS n,
    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER wf AS DOUBLE) AS s,
    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) OVER wf AS DOUBLE) AS ss
  FROM daily
  WINDOW wf AS (ORDER BY d ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT d, x,
  ROUND(s / n, 2) AS ma20,
  ROUND(s / n - 2 * SQRT(ss / n - (s / n) * (s / n)), 2) AS band_lo,
  ROUND(s / n + 2 * SQRT(ss / n - (s / n) * (s / n)), 2) AS band_hi
FROM framed
"""


def q_max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative-revenue-minus-trend curve:
    for each day, the drop from the running peak of the detrended
    cumulative series (the CUSUM statistic reused as an equity curve),
    and the single worst (peak, trough) episode. Everything is the
    n-scaled integer arithmetic of the CUSUM query — running max and
    drawdown are int64 — so the output is hash-exact. Two global-order
    windows over the day-grain series; top-1 row."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "cents")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.sum("cents").over(w).alias("p"),
    )
    tot = daily.agg(F.count("*").alias("n"), F.sum("cents").alias("t"))
    curve = cum.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("n") * F.col("p") - F.col("i") * F.col("t")).alias("equity")
    )
    dd = curve.select(
        "d", "equity",
        F.max("equity").over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)).alias("peak"),
    ).select(
        "d", "equity", "peak", (F.col("peak") - F.col("equity")).alias("drawdown")
    )
    return dd.orderBy(F.desc("drawdown"), "d").limit(1)


_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1),
tot AS (SELECT COUNT(*) AS n, SUM(cents) AS t FROM daily),
curve AS (
  SELECT d,
    n * SUM(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - ROW_NUMBER() OVER (ORDER BY d) * t AS equity
  FROM daily CROSS JOIN tot),
dd AS (
  SELECT d, equity,
    MAX(equity) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM curve)
SELECT d, equity, peak, peak - equity AS drawdown
FROM dd ORDER BY drawdown DESC, d LIMIT 1
"""


def q_haar_wavelet_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-level Haar wavelet decomposition of the daily revenue
    series (multi-resolution change detection): each level pairs
    consecutive samples into an approximation (sum) and a detail
    (difference), then recurses on the approximations. Unscaled integer
    Haar (no /√2 — cents stay int64; magnitudes at level L carry an
    implicit 2^(L/2) factor, irrelevant for within-level ranking). Each
    level is one groupBy on idx div 2 with parity-split sums; incomplete
    tail pairs are dropped. Output: top 5 |detail| per level with
    pair-index tie-break — the strongest day-pair, 2-day, and 4-day
    shocks. Three tiny aggregations after the day-grain shuffle."""
    o = _t(spark, sf_dir, "orders")
    daily = _daily_cents(o, "x")
    level = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("i"), "x"
    )
    outs = []
    for lvl in (1, 2, 3):
        paired = (
            level.select(F.expr("i div 2").alias("pi"), "i", "x")
            .groupBy("pi")
            .agg(
                F.sum(F.when(F.col("i") % 2 == 0, F.col("x"))).alias("even"),
                F.sum(F.when(F.col("i") % 2 == 1, F.col("x"))).alias("odd"),
                F.count("*").alias("cnt"),
            )
            .filter(F.col("cnt") == 2)
        )
        approx = paired.select(F.col("pi").alias("i"), (F.col("even") + F.col("odd")).alias("x"))
        detail = paired.select(
            F.lit(lvl).alias("level"),
            F.col("pi").alias("pair_idx"),
            (F.col("even") - F.col("odd")).alias("detail"),
        )
        w = Window.partitionBy("level").orderBy(
            F.abs(F.col("detail")).desc(), "pair_idx"
        )
        outs.append(
            detail.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .drop("rk")
        )
        level = approx
    out = outs[0]
    for o_ in outs[1:]:
        out = out.unionByName(o_)
    return out


_HAAR_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
  FROM orders GROUP BY 1),
l0 AS (SELECT ROW_NUMBER() OVER (ORDER BY d) - 1 AS i, x FROM daily),
p1 AS (
  SELECT i // 2 AS i,
    SUM(CASE WHEN i % 2 = 0 THEN x END) AS even,
    SUM(CASE WHEN i % 2 = 1 THEN x END) AS odd,
    COUNT(*) AS cnt
  FROM l0 GROUP BY i // 2 HAVING COUNT(*) = 2),
l1 AS (SELECT i, even + odd AS x FROM p1),
p2 AS (
  SELECT i // 2 AS i,
    SUM(CASE WHEN i % 2 = 0 THEN x END) AS even,
    SUM(CASE WHEN i % 2 = 1 THEN x END) AS odd,
    COUNT(*) AS cnt
  FROM l1 GROUP BY i // 2 HAVING COUNT(*) = 2),
l2 AS (SELECT i, even + odd AS x FROM p2),
p3 AS (
  SELECT i // 2 AS i,
    SUM(CASE WHEN i % 2 = 0 THEN x END) AS even,
    SUM(CASE WHEN i % 2 = 1 THEN x END) AS odd,
    COUNT(*) AS cnt
  FROM l2 GROUP BY i // 2 HAVING COUNT(*) = 2),
details AS (
  SELECT 1 AS level, i AS pair_idx, even - odd AS detail FROM p1
  UNION ALL
  SELECT 2, i, even - odd FROM p2
  UNION ALL
  SELECT 3, i, even - odd FROM p3),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY level
    ORDER BY ABS(detail) DESC, pair_idx) AS rk
  FROM details)
SELECT level, pair_idx, detail FROM ranked WHERE rk <= 5
"""


_LATERAL_SQL = """
SELECT n_name, t.c_name, t.bal
FROM nation n, LATERAL (
  SELECT c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
  FROM customer WHERE c_nationkey = n.n_nationkey
  ORDER BY bal DESC, c_name LIMIT 2
) t
"""


def q_lateral_top_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-LATERAL semantics (top-2 customers per nation by
    balance) executed on the scale-safe grouped primitive: Catalyst
    decorrelates the ANSI LATERAL form into a Window PARTITIONED BY the
    25-nation enum — ≤25 tasks over the whole customer table at any
    cluster size (the bounded_key_fanins census class), so the
    EXECUTED query is grouped_top_k (ranged global order + broadcast
    rebase). The LATERAL SQL string itself remains pinned cross-engine
    (spark.sql vs DuckDB, identical text) in
    tests/test_analytics_batch12.py::test_lateral_sql_text_parity —
    SQL-front-end parity is a test property, not a reason to ship the
    Catalyst-shaped plan. Balance in exact cents; (bal, name) total
    order."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    base = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "n_name",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
    )
    top = RK.grouped_top_k(
        base, ["n_name"], [F.desc("bal"), F.col("c_name")], 2,
        col_name="__rk_lat",
        dispatch=True,
    )
    return top.select("n_name", "c_name", "bal")


def q_ks_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic comparing the order-value
    distributions of the BUILDING vs MACHINERY segments — computed
    EXACTLY: D = max|F1-F2| is evaluated as max|cum1·n2 - cum2·n1| over
    the merged support (integer cents, integer counts), then emitted both
    as the exact scaled integer and as ppm. One fact aggregation to
    (value, per-segment counts); the cumulative counts over the
    fact-proportional distinct-value table come from the distributed
    running sum (operators/ranking.py). int64-safe: cum·n ≤
    |orders|² ≈ 2×10¹⁰ at sf1."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            (F.col("c_mktsegment") == "BUILDING").cast("bigint").alias("is1"),
        )
    )
    counts = base.groupBy("v").agg(
        F.sum("is1").alias("c1"), F.sum(1 - F.col("is1")).alias("c2")
    )
    # distinct prices grow with the fact table, so the CDFs come from the
    # distributed running sum (ranged shuffle + broadcast offsets); the
    # totals are max(cumulative) off the same checkpointed frame — one
    # fact scan, no single-partition window. max(cum)-as-total requires
    # NON-NEGATIVE summands (c1/c2 are counts); on signed values take
    # the last row's cumulative by order instead.
    #
    # dispatch justification (ADVICE r11): `counts` is an AGGREGATE of
    # the fact (grouped cents), not the fact itself — the probe's cache
    # write is of the aggregate output, and since r12 an over-cap probe
    # entry is kept for the distributed path, whose repartitionByRange
    # sampler+shuffle would otherwise recompute the whole fact
    # aggregation twice; the write is repaid either way. This is NOT the
    # declined q_global_rank_price_points shape, where the probed frame
    # was fact-grain and the write itself was the measured regression.
    cum = RK.global_running_sum(
        counts, ["v"], ["c1", "c2"], ["cum1", "cum2"],
        dispatch=True,
    )
    tot = cum.agg(
        F.max("cum1").cast("bigint").alias("n1"),
        F.max("cum2").cast("bigint").alias("n2"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        F.abs(
            F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
        ).alias("d_scaled"),
    )
    return diffs.groupBy("n1", "n2").agg(
        F.max("d_scaled").alias("d_scaled")
    ).select(
        "n1", "n2", "d_scaled",
        F.expr("(d_scaled * 1000000L) div (n1 * n2)").alias("d_ppm"),
    )


_KS_SQL = """
WITH base AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is1
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
counts AS (
  SELECT v, SUM(is1) AS c1, SUM(1 - is1) AS c2 FROM base GROUP BY v),
diffs AS (
  SELECT
    SUM(c1) OVER wt AS n1,
    SUM(c2) OVER wt AS n2,
    ABS(SUM(c1) OVER w * SUM(c2) OVER wt - SUM(c2) OVER w * SUM(c1) OVER wt) AS d_scaled
  FROM counts
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
SELECT n1, n2, MAX(d_scaled) AS d_scaled,
  (MAX(d_scaled) * 1000000) // (n1 * n2) AS d_ppm
FROM diffs GROUP BY n1, n2
"""


def q_mannwhitney_u_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U for the same two segments. Rank sums
    stay EXACT under ties by working with doubled ranks: a tied group of
    c values after s predecessors carries doubled-average-rank 2s+c+1,
    so 2·R1 = Σ c1·(2s+c+1) is an integer, and 2·U1 = 2·R1 − n1(n1+1).
    The normal approximation with the tie-correction term Σ(t³−t) (also
    exact) runs once in double. Same grouped-value + distributed
    running-sum shape as the KS query. 2R1 ≤ n² ≈ 2×10¹⁰ at sf1 —
    int64-safe."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            (F.col("c_mktsegment") == "BUILDING").cast("bigint").alias("is1"),
        )
    )
    counts = base.groupBy("v").agg(
        F.sum("is1").alias("c1"),
        F.sum(1 - F.col("is1")).alias("c2"),
        F.count("*").alias("c"),
    )
    # distinct prices grow with the fact table: the predecessor count s
    # comes from the distributed running sum; n1/n2 fold into the SAME
    # one-row aggregate over the checkpointed frame (the old second fact
    # scan for totals is gone). Dispatch on the aggregate-grain counts
    # frame is justified as in q_ks_test_segments (ADVICE r11): the
    # over-cap probe entry is kept and feeds the distributed sampler +
    # shuffle, so the cache write of the aggregate is repaid either way.
    cum = RK.global_running_sum(
        counts, ["v"], ["c"], ["cumc"],
        dispatch=True,
    )
    terms = cum.select(
        "c1", "c2", "c",
        (F.col("cumc") - F.col("c")).alias("s"),
    )
    sums = terms.agg(
        F.sum(F.col("c1") * (2 * F.col("s") + F.col("c") + 1)).alias("r1_2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie3"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    j = sums.select(
        "n1", "n2",
        (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_2"),
        "tie3",
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = n1d + n2d
    mu2 = n1d * n2d  # doubled mean: 2 * n1*n2/2
    var = n1d * n2d / 12 * ((nd + 1) - F.col("tie3").cast("double") / (nd * (nd - 1)))
    return j.select(
        "n1", "n2", "u1_2", "tie3",
        F.round((F.col("u1_2").cast("double") - mu2) / (2 * F.sqrt(var)), 6).alias("z_score"),
    )


_MWU_SQL = """
WITH base AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is1
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
counts AS (
  SELECT v, SUM(is1) AS c1, SUM(1 - is1) AS c2, COUNT(*) AS c
  FROM base GROUP BY v),
terms AS (
  SELECT c1, c,
    SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS s
  FROM counts),
sums AS (
  SELECT SUM(c1 * (2 * s + c + 1)) AS r1_2,
         SUM(c * c * c - c) AS tie3
  FROM terms),
tot AS (SELECT SUM(is1) AS n1, SUM(1 - is1) AS n2 FROM base)
SELECT n1, n2, r1_2 - n1 * (n1 + 1) AS u1_2, tie3,
  ROUND((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
        / (2 * SQRT(CAST(n1 AS DOUBLE) * n2 / 12
             * ((CAST(n1 AS DOUBLE) + n2 + 1)
                - CAST(tie3 AS DOUBLE)
                  / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2 - 1))))), 6) AS z_score
FROM sums CROSS JOIN tot
"""


def q_theilsen_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation: the median of all pairwise
    slopes of the monthly revenue series — the outlier-resistant twin of
    regression_trend_by_nation. Slopes are (Δcents/Δmonths) computed in
    double from exact integers (identical IEEE division both engines);
    the median is the DISCRETE lower median picked by row_number, so no
    interpolation ever mixes two doubles. Pair count is C(84,2)≈3.5k
    per nation — quadratic in MONTHS (the aggregate), constant in fact
    rows, which is what makes Theil-Sen feasible at any corpus scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year(F.col("o_orderdate").cast("date")) - 1992) * 12
                + F.month(F.col("o_orderdate").cast("date")) - 1
            ).alias("x"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y"))
        # the checkpoint erases the (nation × month) bounded-grid lineage,
        # so the marker declares it to the plan census (25 × 84 rows)
        .withColumn("__bounded_nation_month_grid", F.lit(1))
        .localCheckpoint(eager=True)  # tiny; avoid re-deriving per alias
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.n_name") == F.col("b.n_name")) & (F.col("a.x") < F.col("b.x")),
        )
        .select(
            F.col("a.n_name").alias("n_name"),
            (
                (F.col("b.y") - F.col("a.y")).cast("double")
                / (F.col("b.x") - F.col("a.x")).cast("double")
            ).alias("slope"),
            F.col("a.x").alias("x1"),
            F.col("b.x").alias("x2"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("slope", "x1", "x2")
    ranked = slopes.select(
        "n_name", "slope",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("n_name")).alias("cnt"),
    )
    return ranked.filter(F.expr("rk = (cnt + 1) div 2")).select(
        "n_name", "cnt", F.round("slope", 6).alias("theilsen_slope")
    )


_THEILSEN_SQL = """
WITH monthly AS MATERIALIZED (
  SELECT n_name,
    (year(CAST(o_orderdate AS DATE)) - 1992) * 12
      + month(CAST(o_orderdate AS DATE)) - 1 AS x,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
slopes AS (
  SELECT a.n_name,
    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope,
    a.x AS x1, b.x AS x2
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.x < b.x),
ranked AS (
  SELECT n_name, slope,
    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY slope, x1, x2) AS rk,
    COUNT(*) OVER (PARTITION BY n_name) AS cnt
  FROM slopes)
SELECT n_name, cnt, ROUND(slope, 6) AS theilsen_slope
FROM ranked WHERE rk = (cnt + 1) // 2
"""


def q_interpurchase_time_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase-time distribution: days between a customer's
    consecutive orders (LAG over the per-customer date order, ties
    broken by orderkey), bucketed into weekly bins capped at 52+. All
    integer day arithmetic; one shuffle keyed by customer, then a tiny
    histogram aggregation."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.select(
            F.least(F.expr("gap_days div 7"), F.lit(52)).alias("week_bucket")
        )
        .groupBy("week_bucket")
        .agg(F.count("*").alias("n_gaps"))
    )


_INTERPURCHASE_SQL = """
WITH gaps AS (
  SELECT date_diff('day',
      LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders)
SELECT LEAST(gap_days // 7, 52) AS week_bucket, COUNT(*) AS n_gaps
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY 1
"""


def q_fano_factor_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness per event type: the Fano factor (variance/mean of the
    DAILY event-count series; 1 = Poisson, >1 = bursty). Daily counts
    are integers, so the power sums are exact int64 and the dispersion
    algebra runs once in double (population variance). Two aggregations:
    day×type grain, then per-type sums over ≤ days rows."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("k"))
    )
    sums = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    n, sk, skk = (
        F.col("n_days").cast("double"),
        F.col("sk").cast("double"),
        F.col("skk").cast("double"),
    )
    mean = sk / n
    var = skk / n - mean * mean
    return sums.select(
        "event_type", "n_days", "sk",
        F.round(var / mean, 6).alias("fano_factor"),
    )


_FANO_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS k
  FROM events GROUP BY 1, 2),
sums AS (
  SELECT event_type, COUNT(*) AS n_days, SUM(k) AS sk, SUM(k * k) AS skk
  FROM daily GROUP BY 1)
SELECT event_type, n_days, sk,
  ROUND((CAST(skk AS DOUBLE) / n_days
         - (CAST(sk AS DOUBLE) / n_days) * (CAST(sk AS DOUBLE) / n_days))
        / (CAST(sk AS DOUBLE) / n_days), 6) AS fano_factor
FROM sums
"""


def q_winsorized_mean_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5%/95%) of order value per market segment:
    values outside the exact discrete p05/p95 fences clamp TO the fence,
    then the clamped cents average exactly (int64 sum / count in double,
    rounded to cents). The fences reuse the rank = ceil(q·n) discrete-
    percentile rule, joined back as one tiny broadcast. Robust-location
    twin of mad_robust_stats at a fraction of its passes."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
    )
    # the 5-segment enum would fan the fact into 5 tasks under a plain
    # partitioned window: rank via the distributed grouped row_number +
    # broadcast per-segment totals; the clamp pass reads the SAME
    # checkpointed ranked frame (the old form re-scanned the fact join)
    rked = RK.grouped_row_number(
        base, ["seg"], ["cents", "o_orderkey"], col_name="rk"
    )
    totals = rked.groupBy("seg").agg(F.count("*").alias("n"))
    ranked = rked.join(F.broadcast(totals), "seg")
    fences = (
        ranked.filter(
            (F.col("rk") == F.ceil(F.col("n") * 5 / 100))
            | (F.col("rk") == F.ceil(F.col("n") * 95 / 100))
        )
        .groupBy("seg")
        .agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    )
    clamped = rked.join(F.broadcast(fences), "seg").select(
        "seg", F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents"))).alias("wc")
    )
    return clamped.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.round(F.sum("wc").cast("double") / F.count("*"), 2).alias("winsorized_mean_cents"),
    )


_WINSOR_SQL = """
WITH base AS (
  SELECT c_mktsegment AS seg,
    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey),
ranked AS (
  SELECT seg, cents,
    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY cents, o_orderkey) AS rk,
    COUNT(*) OVER (PARTITION BY seg) AS n
  FROM base),
fences AS (
  SELECT seg, MIN(cents) AS lo, MAX(cents) AS hi
  FROM ranked
  WHERE rk = CEIL(n * 5 / 100.0) OR rk = CEIL(n * 95 / 100.0)
  GROUP BY seg),
clamped AS (
  SELECT base.seg, GREATEST(lo, LEAST(hi, cents)) AS wc
  FROM base JOIN fences ON base.seg = fences.seg)
SELECT seg, COUNT(*) AS n,
  ROUND(CAST(SUM(wc) AS DOUBLE) / COUNT(*), 2) AS winsorized_mean_cents
FROM clamped GROUP BY seg
"""


def q_ship_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA: discrete p50/p90/p99 of the days between order
    date and each line item's ship date, per order priority — the
    operational-latency percentile report. The only fact-fact join in
    the statistics family: lineitem ⋈ orders shuffles on the order key
    (AQE skew-safe), delays are integer days, and the percentile rule is
    the exact rank = ceil(q·n) discrete pick with a (delay, orderkey,
    linenumber) total order."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    delays = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("delay_days"),
            "l_orderkey", "l_linenumber",
        )
    )
    # the 5-priority enum would fan the full lineitem join into 5 tasks
    # under a plain partitioned window: rank via the distributed grouped
    # row_number + broadcast per-priority totals
    rked = RK.grouped_row_number(
        delays, ["pri"], ["delay_days", "l_orderkey", "l_linenumber"],
        col_name="rk",
    )
    totals = rked.groupBy("pri").agg(F.count("*").alias("n"))
    ranked = rked.join(F.broadcast(totals), "pri")
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q int")
    return (
        ranked.crossJoin(F.broadcast(qs))
        .filter(F.col("rk") == F.ceil(F.col("q") * F.col("n") / 100))
        .select("pri", "q", "delay_days")
    )


_SHIP_DELAY_SQL = """
WITH delays AS (
  SELECT o_orderpriority AS pri,
    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS delay_days,
    l_orderkey, l_linenumber
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
ranked AS (
  SELECT pri, delay_days,
    ROW_NUMBER() OVER (PARTITION BY pri
      ORDER BY delay_days, l_orderkey, l_linenumber) AS rk,
    COUNT(*) OVER (PARTITION BY pri) AS n
  FROM delays)
SELECT pri, q, delay_days
FROM ranked CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) qs
WHERE rk = CEIL(q * n / 100.0)
"""


def q_peak_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by sweep line: an order is OPEN from its order
    date until its last line ships; the sweep emits +1/-1 boundary
    events, a running sum over the date order gives the concurrently-
    open count, and the top 10 peak days fall out. The per-order
    interval needs one fact-fact aggregation (max shipdate per order);
    the sweep itself runs over the tiny per-day boundary table.
    Orders whose last ship falls ON day d count as open through d
    (the -1 lands on d+1). All integer counting."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    spans = (
        li.groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("close_d"))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .select(F.col("o_orderdate").cast("date").alias("open_d"), "close_d")
    )
    # r11 (guide §1.3): the union form derived spans — a fact-fact
    # aggregation plus a join — TWICE (once per boundary side; this was
    # the suite's largest scan volume). One explode emits both sweep
    # events per interval from a single derivation. r12: the explode
    # fans out the ±1 DELTA and the day is a CASE over the two boundary
    # columns — the r11 struct-array form hid the day behind a
    # struct-field access the single-partition census cannot resolve,
    # so the bounded (calendar-grain) sweep frame read as unbounded
    # (caught by test_no_single_partition_collapse_anywhere).
    deltas = (
        spans.select(
            "open_d",
            "close_d",
            F.explode(F.array(F.lit(1), F.lit(-1))).alias("delta"),
        )
        .select(
            F.when(F.col("delta") == 1, F.col("open_d"))
            .otherwise(F.date_add(F.col("close_d"), 1))
            .alias("d"),
            "delta",
        )
        .groupBy("d")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deltas.select("d", F.sum("net").over(w).alias("open_orders"))
        .orderBy(F.desc("open_orders"), "d")
        .limit(10)
    )


_PEAK_OPEN_SQL = """
WITH spans AS (
  SELECT CAST(o_orderdate AS DATE) AS open_d,
         MAX(CAST(l_shipdate AS DATE)) AS close_d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, CAST(o_orderdate AS DATE)),
deltas AS (
  SELECT d, SUM(delta) AS net FROM (
    SELECT open_d AS d, 1 AS delta FROM spans
    UNION ALL
    SELECT close_d + 1 AS d, -1 AS delta FROM spans)
  GROUP BY d),
sweep AS (
  SELECT d,
    SUM(net) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_orders
  FROM deltas)
SELECT d, open_orders FROM sweep
ORDER BY open_orders DESC, d LIMIT 10
"""


def q_lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve sampled at customer-count deciles, per region: the
    cumulative revenue share held by the poorest 10%..100% of customers
    — the curve the Gini coefficient integrates. Shares are exact ppm
    (floor division of int64 cumulative cents), decile membership is
    rank·10 div n, and the last row of each decile carries the point.
    One fact aggregation, one region-partitioned window."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    # the 5-region enum would fan the per-customer frame into 5 tasks
    # under plain partitioned windows: rank + cumulative revenue come
    # from the distributed grouped primitives; totals/counts broadcast
    # back off the same frame (≤5 rows)
    order = ["cents", "c_custkey"]
    # single count routes both primitives (see pareto_revenue_concentration)
    if RK.dispatch_small(per_cust, caller="lorenz_curve_points"):
        rked = RK.bounded_rows_row_number(
            per_cust, ["r_name"], order, caller="lorenz_curve_points"
        )
        cum = RK.bounded_rows_running_sum(
            rked, ["r_name"], order, ["cents"], ["cum"],
            caller="lorenz_curve_points",
        )
    else:
        rked = RK.grouped_row_number(per_cust, ["r_name"], order, col_name="rk")
        cum = RK.grouped_running_sum(rked, ["r_name"], order, ["cents"], ["cum"])
    agg = cum.groupBy("r_name").agg(
        F.count("*").alias("n"), F.max("cum").alias("total")
    )
    ranked = cum.join(F.broadcast(agg), "r_name")
    return (
        ranked.withColumn("decile", F.expr("(rk * 10) div n"))
        .filter(F.expr("rk * 10 % n = 0 OR rk = n"))
        .filter(F.col("decile") >= 1)
        .groupBy("r_name", "decile")
        .agg(
            # two-stage exact split (cf. ewma_micro): cum*1e6 overflows
            # int64 near sf1, but cum*1e3 holds to sf~400 and
            # floor(cum*1e6/total) == q*1e3 + floor((r*1e3)/total)
            # for q, r = divmod(cum*1e3, total).
            F.max(
                F.expr(
                    "((cum * 1000) div total) * 1000"
                    " + (((cum * 1000) % total) * 1000) div total"
                )
            ).alias("cum_share_ppm")
        )
    )


_LORENZ_SQL = """
WITH per_cust AS (
  SELECT r_name, c_custkey,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2),
ranked AS (
  SELECT r_name,
    ROW_NUMBER() OVER w AS rk,
    SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    COUNT(*) OVER (PARTITION BY r_name) AS n,
    SUM(cents) OVER (PARTITION BY r_name) AS total
  FROM per_cust
  WINDOW w AS (PARTITION BY r_name ORDER BY cents, c_custkey))
SELECT r_name, (rk * 10) // n AS decile,
  MAX(((cum * 1000) // total) * 1000
      + (((cum * 1000) % total) * 1000) // total) AS cum_share_ppm
FROM ranked
WHERE (rk * 10 % n = 0 OR rk = n) AND (rk * 10) // n >= 1
GROUP BY 1, 2
"""


def q_weighted_median_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per part brand: the smallest
    price v whose cumulative quantity weight reaches half the brand
    total (2·cumw >= totw — integer comparison, no halving). Weights
    pre-aggregate per (brand, price) BEFORE the cumulative, so tie
    ordering within equal prices can never matter. Distinct prices grow
    with the fact and a brand-partitioned window fans them into 25
    tasks, so the cumulative weight is the distributed GROUPED running
    sum with brand totals folded off the same checkpointed frame."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    grain = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )
        .agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("w"))
    )
    cum = RK.grouped_running_sum(
        grain, ["p_brand"], ["cents"], ["w"], ["cumw"],
        dispatch=True,
    )
    tot = cum.groupBy("p_brand").agg(F.sum("w").alias("totw"))
    ranked = cum.join(F.broadcast(tot), "p_brand")
    return (
        ranked.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("p_brand")
        .agg(
            F.min("cents").alias("weighted_median_cents"),
            F.max("totw").alias("total_quantity"),
        )
    )


_WMEDIAN_SQL = """
WITH grain AS (
  SELECT p_brand,
    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
    SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS w
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2),
ranked AS (
  SELECT p_brand, cents,
    SUM(w) OVER (PARTITION BY p_brand ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
    SUM(w) OVER (PARTITION BY p_brand) AS totw
  FROM grain)
SELECT p_brand, MIN(cents) AS weighted_median_cents,
  MAX(totw) AS total_quantity
FROM ranked WHERE 2 * cumw >= totw
GROUP BY p_brand
"""


def q_snapshot_diff_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC reconciliation via the snapshot-diff operator
    (operators/diff.py): per-customer order aggregates as of 1995-12-31
    vs today, classified added / changed / unchanged by the operator's
    pre-hashed full-outer join (md5 over integer-string value columns —
    engine-portable because bigint->string casts agree). Aggregated to
    class counts; 'removed' is structurally impossible (history only
    grows) and its absence is part of the check."""
    from ..operators.diff import diff_summary

    o = _t(spark, sf_dir, "orders")
    per_cust = lambda df: (  # noqa: E731
        df.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        )
    )
    old = per_cust(o.filter(F.col("o_orderdate").cast("date") < F.lit("1996-01-01").cast("date")))
    new = per_cust(o)
    return diff_summary(old, new, ["custkey"]).orderBy("change")


_SNAPDIFF_SQL = """
WITH old AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
  GROUP BY 1),
new AS (
  SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1),
classified AS (
  SELECT CASE
    WHEN old.custkey IS NULL THEN 'added'
    WHEN new.custkey IS NULL THEN 'removed'
    WHEN old.n_orders = new.n_orders AND old.cents = new.cents THEN 'unchanged'
    ELSE 'changed' END AS change
  FROM old FULL OUTER JOIN new ON old.custkey = new.custkey)
SELECT change, COUNT(*) AS n FROM classified
GROUP BY change ORDER BY change
"""


def q_embedding_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as the vector-preprocessing surface:
    per label, how many embedding components exceed |x| > 0.2 (clip
    candidates), via filter(embedding, ...) + size — no explode, no
    Python. The predicate casts float components to double before the
    0.2 comparison so both engines test identical values; counts are
    integers and the clip rate is floor-division ppm."""
    em = _t(spark, sf_dir, "embeddings")
    per_vec = em.select(
        "label",
        F.size(F.col("embedding")).alias("n_dims"),
        F.size(
            F.filter(
                F.col("embedding"),
                lambda x: F.abs(x.cast("double")) > F.lit(0.2),
            )
        ).alias("n_clip"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("n_dims").alias("total_dims"),
            F.sum("n_clip").alias("total_clip"),
        )
        .select(
            "label", "n_vectors", "total_dims", "total_clip",
            F.expr("(total_clip * 1000000L) div total_dims").alias("clip_ppm"),
        )
    )


_CLIP_SQL = """
WITH per_vec AS (
  SELECT label, len(embedding) AS n_dims,
    len(list_filter(embedding, x -> ABS(CAST(x AS DOUBLE)) > 0.2e0)) AS n_clip
  FROM embeddings)
SELECT label, COUNT(*) AS n_vectors,
  SUM(n_dims) AS total_dims, SUM(n_clip) AS total_clip,
  (SUM(n_clip) * 1000000) // SUM(n_dims) AS clip_ppm
FROM per_vec GROUP BY label
"""


def q_daily_kpi_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metrics-layer spine: one wide daily KPI row — orders, exact
    revenue, floor-division AOV, distinct buyers, first-time buyers, and
    the cumulative customer base. Three day-grain aggregates (core,
    first-seen, cumulative window) joined on the date spine; every
    column is an integer so the report is hash-exact. The shape a
    semantic layer materializes incrementally at scale (cf.
    operators/incremental.py)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents"),
        F.count_distinct("o_custkey").alias("n_buyers"),
    )
    first_seen = (
        o.groupBy("o_custkey")
        .agg(F.min(F.col("o_orderdate").cast("date")).alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("n_new_buyers"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(first_seen, "d", "left")
        .select(
            "d", "n_orders", "rev_cents",
            F.expr("rev_cents div n_orders").alias("aov_cents"),
            "n_buyers",
            F.coalesce("n_new_buyers", F.lit(0)).alias("n_new_buyers"),
        )
        .withColumn("cum_buyers", F.sum("n_new_buyers").over(w))
    )


_KPI_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents,
    COUNT(DISTINCT o_custkey) AS n_buyers
  FROM orders GROUP BY 1),
first_seen AS (
  SELECT d, COUNT(*) AS n_new_buyers FROM (
    SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d
    FROM orders GROUP BY 1)
  GROUP BY 1)
SELECT d, n_orders, rev_cents,
  rev_cents // n_orders AS aov_cents,
  n_buyers,
  COALESCE(n_new_buyers, 0) AS n_new_buyers,
  SUM(COALESCE(n_new_buyers, 0)) OVER (ORDER BY d
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_buyers
FROM daily LEFT JOIN first_seen USING (d)
"""


def q_hierarchy_share_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent at two hierarchy levels in one pass: each
    nation's revenue as exact-ppm share of its region and each region's
    share of the world, from two window partitions over the 25-row
    nation aggregate — the drill-down report shape (no self-joins, no
    re-aggregation). Integer ppm floor division throughout."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_nation = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return per_nation.withColumn(
        "region_cents", F.sum("cents").over(w_region)
    ).withColumn(
        "world_cents", F.sum("cents").over(w_all)
    ).select(
        "r_name", "n_name", "cents",
        # two-stage exact split (cf. ewma_micro): cents*1e6 overflows
        # int64 near sf1-2; *1e3 twice holds to sf~400.
        F.expr(
            "((cents * 1000) div region_cents) * 1000"
            " + (((cents * 1000) % region_cents) * 1000) div region_cents"
        ).alias("share_of_region_ppm"),
        F.expr(
            "((region_cents * 1000) div world_cents) * 1000"
            " + (((region_cents * 1000) % world_cents) * 1000) div world_cents"
        ).alias("region_share_ppm"),
    )


_HIER_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2),
leveled AS (
  SELECT r_name, n_name, cents,
    SUM(cents) OVER (PARTITION BY r_name) AS region_cents,
    SUM(cents) OVER () AS world_cents
  FROM per_nation)
SELECT r_name, n_name, cents,
  ((cents * 1000) // region_cents) * 1000
    + (((cents * 1000) % region_cents) * 1000) // region_cents
    AS share_of_region_ppm,
  ((region_cents * 1000) // world_cents) * 1000
    + (((region_cents * 1000) % world_cents) * 1000) // world_cents
    AS region_share_ppm
FROM leveled
"""


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic — the report an operator runs before
    sizing a 100 TB join: per candidate key (order custkey, lineitem
    partkey/suppkey), the row count of the heaviest key, the exact
    discrete p50/p99 of per-key counts, and max/p50 as the skew ratio
    in exact ppm. All integer; per-key counts aggregate first, and the
    percentile ranks over the fact-proportional key-count table come
    from the distributed row_number (operators/ranking.py) — ranged
    shuffle + broadcast offsets, never a single-partition window; the
    key-count total is a broadcast 1-row aggregate off the same
    checkpointed frame."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def key_stats(df: DataFrame, col: str, label: str) -> DataFrame:
        per_key = df.groupBy(F.col(col).alias("k")).agg(F.count("*").alias("n"))
        # no dispatch: per-key counts are dimension-grain (customers/
        # parts/suppliers scale with the warehouse) and the r11 isolated
        # A/B measured the dispatched form as a wash (2.13 -> 2.07 s min)
        numbered = RK.global_row_number(per_key, ["n", "k"], col_name="rk")
        total = numbered.agg(F.count("*").alias("cnt"))
        ranked = numbered.crossJoin(F.broadcast(total)).select("n", "rk", "cnt")
        picks = ranked.agg(
            F.max("n").alias("max_n"),
            F.max(F.when(F.col("rk") == F.ceil(F.col("cnt") * 50 / 100), F.col("n"))).alias("p50_n"),
            F.max(F.when(F.col("rk") == F.ceil(F.col("cnt") * 99 / 100), F.col("n"))).alias("p99_n"),
            F.count("*").alias("n_keys"),
        )
        return picks.select(
            F.lit(label).alias("key_name"), "n_keys", "max_n", "p50_n", "p99_n",
            F.expr("(max_n * 1000000L) div p50_n").alias("skew_ratio_ppm"),
        )

    out = key_stats(o, "o_custkey", "orders.o_custkey")
    out = out.unionByName(key_stats(li, "l_partkey", "lineitem.l_partkey"))
    out = out.unionByName(key_stats(li, "l_suppkey", "lineitem.l_suppkey"))
    return out


def _skew_sql() -> str:
    parts = []
    for table, col in [
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("lineitem", "l_suppkey"),
    ]:
        parts.append(f"""
SELECT '{table}.{col}' AS key_name, n_keys, max_n, p50_n, p99_n,
  (max_n * 1000000) // p50_n AS skew_ratio_ppm
FROM (
  SELECT MAX(n) AS max_n,
    MAX(CASE WHEN rk = CEIL(cnt * 50 / 100.0) THEN n END) AS p50_n,
    MAX(CASE WHEN rk = CEIL(cnt * 99 / 100.0) THEN n END) AS p99_n,
    COUNT(*) AS n_keys
  FROM (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n, k) AS rk,
      COUNT(*) OVER () AS cnt
    FROM (SELECT {col} AS k, COUNT(*) AS n FROM {table} GROUP BY 1)))""")
    return "\nUNION ALL\n".join(parts)


_KEY_SKEW_SQL = _skew_sql()


def q_weekly_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-over-time movement: each nation's weekly revenue rank in
    1995, with the week-over-week rank delta (positive = climbed). Rank
    ties break on nation name; LAG over the (nation, week) grid gives
    the movement — the leaderboard-delta report shape. Output limited
    to movers (delta <> 0) to keep the result focused."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    weekly = (
        o.filter(F.year(F.col("o_orderdate").cast("date")) == 1995)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            # week = the Monday date, not the bare ISO week number: Jan 1
            # 1995 carries ISO week 52 (of 1994) and a bare `wk` would
            # merge it with late-December 1995; a date axis is also
            # monotone with time for the LAG ordering.
            F.date_trunc("week", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("wk"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w_rank = Window.partitionBy("wk").orderBy(F.desc("cents"), "n_name")
    ranked = weekly.select(
        "n_name", "wk", F.row_number().over(w_rank).alias("rnk")
    )
    w_lag = Window.partitionBy("n_name").orderBy("wk")
    return (
        ranked.select(
            "n_name", "wk", "rnk",
            (F.lag("rnk").over(w_lag) - F.col("rnk")).alias("delta"),
        )
        .filter(F.col("delta").isNotNull() & (F.col("delta") != 0))
    )


_RANK_MOVERS_SQL = """
WITH weekly AS (
  SELECT n_name, CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS wk,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(CAST(o_orderdate AS DATE)) = 1995
  GROUP BY 1, 2),
ranked AS (
  SELECT n_name, wk,
    ROW_NUMBER() OVER (PARTITION BY wk ORDER BY cents DESC, n_name) AS rnk
  FROM weekly),
moved AS (
  SELECT n_name, wk, rnk,
    LAG(rnk) OVER (PARTITION BY n_name ORDER BY wk) - rnk AS delta
  FROM ranked)
SELECT n_name, wk, rnk, delta
FROM moved WHERE delta IS NOT NULL AND delta <> 0
"""


def q_frequent_parts_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accelerated EXACT heavy hitters: every part whose line
    count exceeds 1/32768 of the fact, found via partition-local
    Misra-Gries summaries (functions/frequent.py) and re-counted
    exactly — shuffle cost is O(partitions × k_sketch) + candidate
    rows instead of the full key universe. The support-threshold
    contract is provably complete under any distribution (see the
    operator docstring — a top-k framing is NOT sketch-safe on
    near-uniform keys, which this fixture's partkey is), and the
    DuckDB oracle computes the same set exactly, so the hash match
    verifies zero candidate loss end-to-end. The one intentionally-
    Python stage (mapInPandas summary) is Arrow-batched."""
    from ..functions.frequent import frequent_above_support

    li = _t(spark, sf_dir, "lineitem")
    return frequent_above_support(li, "l_partkey")


_FREQ_SUPPORT_SQL = """
WITH tot AS (SELECT COUNT(*) AS total FROM lineitem)
SELECT l_partkey, COUNT(*) AS n
FROM lineitem CROSS JOIN tot
GROUP BY l_partkey, total
HAVING 32768 * COUNT(*) > total
"""


def q_customer_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer gaps-and-islands over the MONTH grid: runs of
    consecutive active months via the classic month_index − row_number
    grouping trick, reporting each customer's longest streak and island
    count — top 20 by (longest streak, fewest islands, custkey).
    Customers hold ~10 orders across 84 months at every scale factor,
    so the island structure is non-degenerate at any SF. Two windows +
    two aggregations, all keyed by customer."""
    o = _t(spark, sf_dir, "orders")
    months = (
        o.select(
            "o_custkey",
            (
                (F.year(F.col("o_orderdate").cast("date")) - 1992) * 12
                + F.month(F.col("o_orderdate").cast("date")) - 1
            ).alias("m"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("m")
    islands = months.select(
        "o_custkey",
        (F.col("m") - F.row_number().over(w)).alias("grp"),
    ).groupBy("o_custkey", "grp").agg(F.count("*").alias("run_len"))
    return (
        islands.groupBy("o_custkey")
        .agg(
            F.max("run_len").alias("longest_streak"),
            F.count("*").alias("n_islands"),
        )
        .orderBy(F.desc("longest_streak"), "n_islands", "o_custkey")
        .limit(20)
    )


_ISLANDS_SQL = """
WITH months AS (
  SELECT DISTINCT o_custkey,
    (year(CAST(o_orderdate AS DATE)) - 1992) * 12
      + month(CAST(o_orderdate AS DATE)) - 1 AS m
  FROM orders),
islands AS (
  SELECT o_custkey,
    m - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
  FROM months),
runs AS (
  SELECT o_custkey, grp, COUNT(*) AS run_len
  FROM islands GROUP BY 1, 2)
SELECT o_custkey, MAX(run_len) AS longest_streak, COUNT(*) AS n_islands
FROM runs GROUP BY o_custkey
ORDER BY longest_streak DESC, n_islands, o_custkey LIMIT 20
"""


def q_lineitem_contiguity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detail-row integrity: line numbers within each order must be
    exactly 1..k with no duplicates — checked in ONE aggregation pass
    per order via the arithmetic identity (count == max AND sum ==
    k(k+1)/2 AND min == 1), then summarized to a single row. No sort,
    no window, no distinct — the cheapest possible contiguity proof."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("cnt"),
        F.min("l_linenumber").alias("mn"),
        F.max("l_linenumber").alias("mx"),
        F.sum("l_linenumber").alias("sm"),
    )
    flagged = per_order.select(
        (
            (F.col("mn") == 1)
            & (F.col("mx") == F.col("cnt"))
            & (F.col("sm") == F.col("cnt") * (F.col("cnt") + 1) / 2)
        ).alias("ok")
    )
    return flagged.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("ok").cast("bigint")).alias("n_contiguous"),
        F.sum((~F.col("ok")).cast("bigint")).alias("n_violations"),
    )


_CONTIG_SQL = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(*) AS cnt, MIN(l_linenumber) AS mn,
         MAX(l_linenumber) AS mx, SUM(l_linenumber) AS sm
  FROM lineitem GROUP BY 1),
flagged AS (
  SELECT (mn = 1 AND mx = cnt AND sm = cnt * (cnt + 1) / 2) AS ok
  FROM per_order)
SELECT COUNT(*) AS n_orders,
  SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS n_contiguous,
  SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS n_violations
FROM flagged
"""

# discount weights 0.9^k for order-year offsets 0..6, shared 12-dp
# literals on both sides so neither engine ever calls pow()
_LTV_W = {
    0: "1.0", 1: "0.9", 2: "0.81", 3: "0.729",
    4: "0.6561", 5: "0.59049", 6: "0.531441",
}


def q_discounted_ltv_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted customer lifetime value: yearly revenue × 0.9^years-
    since-first-order, summed per customer — top 20. The discount
    powers are shared decimal literals (the Benford trick: no pow(), no
    libm divergence); yearly revenue is exact cents, the weighted sum
    runs once in double and rounds to cents. Two aggregations (customer
    × year, then customer) + a broadcast weights join."""
    o = _t(spark, sf_dir, "orders")
    yearly = (
        o.groupBy(
            "o_custkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w_first = Window.partitionBy("o_custkey")
    offset = yearly.select(
        "o_custkey", "cents",
        (F.col("yr") - F.min("yr").over(w_first)).alias("k"),
    )
    weights = spark.createDataFrame(
        [(k, float(v)) for k, v in _LTV_W.items()], "k int, w double"
    )
    return (
        offset.join(F.broadcast(weights), "k")
        .groupBy("o_custkey")
        .agg(
            # each term's double product casts to decimal BEFORE the sum:
            # exact commutative accumulation, shuffle-order-proof
            F.round(
                F.sum(
                    (F.col("cents").cast("double") * F.col("w")).cast("decimal(38,10)")
                ).cast("double"),
                2,
            ).alias("ltv_cents")
        )
        .orderBy(F.desc("ltv_cents"), "o_custkey")
        .limit(20)
    )


_LTV_SQL = (
    "WITH yearly AS (\n"
    "  SELECT o_custkey, year(CAST(o_orderdate AS DATE)) AS yr,\n"
    "    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents\n"
    "  FROM orders GROUP BY 1, 2),\n"
    "offs AS (\n"
    "  SELECT o_custkey, cents,\n"
    "    yr - MIN(yr) OVER (PARTITION BY o_custkey) AS k\n"
    "  FROM yearly),\n"
    "weights AS (SELECT * FROM (VALUES "
    + ", ".join(f"({k}, {v}e0)" for k, v in _LTV_W.items())
    + ") AS t(k, w))\n"
    "SELECT o_custkey,\n"
    "  ROUND(CAST(SUM(CAST(CAST(cents AS DOUBLE) * w AS DECIMAL(38,10))) AS DOUBLE), 2) AS ltv_cents\n"
    "FROM offs JOIN weights USING (k)\n"
    "GROUP BY o_custkey ORDER BY ltv_cents DESC, o_custkey LIMIT 20\n"
)


def q_dice_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation strength for adjacent token pairs: the Dice
    coefficient 2·n_ab/(n_a+n_b) in exact ppm, over pairs with support
    ≥ 20 — which word pairs stick together beyond their individual
    frequencies (the PMI-family association measure, integer-exact so
    no log). One tokenization pass feeds both the unigram counts and the
    LEAD-adjacency bigram counts; the unigram table is VOCABULARY-sized
    (grows with the corpus — Heaps' law), so it joins as a plain
    equi-join (AQE broadcasts it when small, shuffles it at crawl
    scale), never a forced broadcast. Top 30 by (dice, pair)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.select("doc_id", "tok", F.lead("tok").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 20)
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n").alias("n_b"))
    return (
        bi.join(ua, "a")
        .join(ub, "b")
        .select(
            "a", "b", "n_ab", "n_a", "n_b",
            F.expr("(2 * n_ab * 1000000L) div (n_a + n_b)").alias("dice_ppm"),
        )
        .orderBy(F.desc("dice_ppm"), "a", "b")
        .limit(30)
    )


_DICE_SQL = """
WITH lists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
toks AS (
  SELECT doc_id, unnest(l) AS tok,
         unnest(generate_series(1, len(l))) AS pos
  FROM lists),
uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
bi AS (
  SELECT a, b, COUNT(*) AS n_ab FROM (
    SELECT doc_id, tok AS a,
      LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
    FROM toks)
  WHERE b IS NOT NULL GROUP BY a, b HAVING COUNT(*) >= 20)
SELECT a, b, n_ab, ua.n AS n_a, ub.n AS n_b,
  (2 * n_ab * 1000000) // (ua.n + ub.n) AS dice_ppm
FROM bi JOIN uni ua ON bi.a = ua.tok JOIN uni ub ON bi.b = ub.tok
ORDER BY dice_ppm DESC, a, b LIMIT 30
"""


def q_embedding_dimension_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension discrete median of the embedding corpus (the
    feature-wise robust center a normalization pipeline needs): one
    posexplode to (dim, value) — integer-scaled to micro-units so the
    rank pick is hash-exact — then the ceil(n/2) rank pick per
    dimension. 64 output rows regardless of corpus size; the explode
    shuffle is the only fact-sized stage."""
    em = _t(spark, sf_dir, "embeddings")
    vals = em.select(
        F.posexplode(F.col("embedding")).alias("dim", "v"),
        F.col("vec_id"),
    ).select(
        "dim",
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("micro"),
        "vec_id",
    )
    w = Window.partitionBy("dim").orderBy("micro", "vec_id")
    ranked = vals.select(
        "dim", "micro",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("dim")).alias("n"),
    )
    return (
        ranked.filter(F.col("rk") == F.ceil(F.col("n") / 2))
        .select("dim", F.col("micro").alias("median_micro"), "n")
    )


_EMB_MEDIAN_SQL = """
WITH vals AS (
  SELECT dim - 1 AS dim,
    CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS micro, vec_id
  FROM (
    SELECT vec_id, unnest(embedding) AS v,
           unnest(generate_series(1, len(embedding))) AS dim
    FROM embeddings)),
ranked AS (
  SELECT dim, micro,
    ROW_NUMBER() OVER (PARTITION BY dim ORDER BY micro, vec_id) AS rk,
    COUNT(*) OVER (PARTITION BY dim) AS n
  FROM vals)
SELECT dim, micro AS median_micro, n
FROM ranked WHERE rk = CEIL(n / 2.0)
"""


def q_rank_correlation_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric association between nations' order volume and
    revenue: Spearman's rho (1 − 6Σd²/(n(n²−1)) over row_number ranks
    with name tie-breaks) and Kendall's tau (concordant-minus-
    discordant over the 25×24/2 nation pairs). Both statistics reduce
    to exact integer counts on the 25-row aggregate — the double
    division happens once per statistic. The pairwise stage is
    quadratic in NATIONS, constant in fact rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    per_nation = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        )
        # marker column: frame is bounded by |nations| = 25 at every SF
        # (plans.single_partition_collapses treats the checkpoint leaf as
        # bounded-by-construction); 25 rows, reused by ranks and pairs
        .withColumn("__bounded_by_25_nations", F.lit(1))
        .localCheckpoint(eager=True)
    )
    ranked = per_nation.select(
        "n_name",
        F.row_number().over(Window.orderBy("n_orders", "n_name")).alias("rx"),
        F.row_number().over(Window.orderBy("cents", "n_name")).alias("ry"),
    )
    spearman = ranked.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
        ).alias("sum_d2"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(b, F.col("a.n_name") < F.col("b.n_name")).select(
        (
            (F.col("a.rx") < F.col("b.rx")) == (F.col("a.ry") < F.col("b.ry"))
        ).cast("bigint").alias("concordant")
    )
    kendall = pairs.agg(
        F.sum("concordant").alias("n_conc"),
        F.sum(1 - F.col("concordant")).alias("n_disc"),
    )
    return (
        spearman.crossJoin(kendall)
        .select(
            "n", "sum_d2", "n_conc", "n_disc",
            F.round(
                1 - (6 * F.col("sum_d2")).cast("double")
                / (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("double"),
                6,
            ).alias("spearman_rho"),
            F.round(
                (F.col("n_conc") - F.col("n_disc")).cast("double")
                / (F.col("n_conc") + F.col("n_disc")).cast("double"),
                6,
            ).alias("kendall_tau"),
        )
    )


_RANKCORR_SQL = """
WITH per_nation AS MATERIALIZED (
  SELECT n_name, COUNT(*) AS n_orders,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1),
ranked AS MATERIALIZED (
  SELECT n_name,
    ROW_NUMBER() OVER (ORDER BY n_orders, n_name) AS rx,
    ROW_NUMBER() OVER (ORDER BY cents, n_name) AS ry
  FROM per_nation),
spearman AS (
  SELECT COUNT(*) AS n, SUM((rx - ry) * (rx - ry)) AS sum_d2 FROM ranked),
kendall AS (
  SELECT
    SUM(CASE WHEN (a.rx < b.rx) = (a.ry < b.ry) THEN 1 ELSE 0 END) AS n_conc,
    SUM(CASE WHEN (a.rx < b.rx) = (a.ry < b.ry) THEN 0 ELSE 1 END) AS n_disc
  FROM ranked a JOIN ranked b ON a.n_name < b.n_name)
SELECT n, sum_d2, n_conc, n_disc,
  ROUND(1 - CAST(6 * sum_d2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE), 6) AS spearman_rho,
  ROUND(CAST(n_conc - n_disc AS DOUBLE) / CAST(n_conc + n_disc AS DOUBLE), 6) AS kendall_tau
FROM spearman CROSS JOIN kendall
"""


def q_rapid_repeat_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat-order audit: pairs of distinct orders by the same
    customer within 3 days, with the amount-similarity signal
    min/max·1e6 (exact ppm) that a duplicate-payment screen thresholds
    on. The self-join is equi on customer plus a bounded date-range
    predicate, so pair volume scales with per-customer short-window
    bursts, not the fact. Canonical pair order (earlier orderkey
    first), all-integer output."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    ).localCheckpoint(eager=True)  # avoid re-deriving the scan per alias
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.abs(F.datediff(F.col("b.d"), F.col("a.d"))) <= 3),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_1"),
            F.col("b.o_orderkey").alias("orderkey_2"),
            F.abs(F.datediff(F.col("b.d"), F.col("a.d"))).alias("days_apart"),
            F.col("a.cents").alias("cents_1"),
            F.col("b.cents").alias("cents_2"),
            F.expr(
                "(least(a.cents, b.cents) * 1000000L) div greatest(a.cents, b.cents)"
            ).alias("amount_sim_ppm"),
        )
    )


_DUP_PAY_SQL = """
WITH base AS (
  SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_orderdate AS DATE) AS d, o_orderkey
  FROM orders)
SELECT a.o_custkey AS custkey,
  a.o_orderkey AS orderkey_1, b.o_orderkey AS orderkey_2,
  ABS(date_diff('day', a.d, b.d)) AS days_apart,
  a.cents AS cents_1, b.cents AS cents_2,
  (LEAST(a.cents, b.cents) * 1000000) // GREATEST(a.cents, b.cents) AS amount_sim_ppm
FROM base a JOIN base b
  ON a.o_custkey = b.o_custkey
  AND a.o_orderkey < b.o_orderkey
  AND ABS(date_diff('day', a.d, b.d)) <= 3
"""


def q_boxplot_stats_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot statistics per nation: discrete quartiles (rank =
    ceil(q·n) picks), IQR, and Tukey-fence outlier counts — with the
    1.5·IQR fences evaluated in DOUBLED integers (2·x < 2·q1 − 3·IQR)
    so the half-unit never becomes a float. One fact shuffle for the
    ranking window, quartiles join back as a broadcast, outliers count
    in one conditional aggregation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
    )
    # the 25-nation enum would fan the fact into 25 tasks under a plain
    # partitioned window: rank via the distributed grouped row_number +
    # broadcast per-nation totals; the outlier pass reads the SAME
    # checkpointed ranked frame (the old form re-scanned the fact join)
    rked = RK.grouped_row_number(
        base, ["n_name"], ["cents", "o_orderkey"], col_name="rk"
    )
    totals = rked.groupBy("n_name").agg(F.count("*").alias("n"))
    ranked = rked.join(F.broadcast(totals), "n_name")
    quartiles = (
        ranked.filter(
            (F.col("rk") == F.ceil(F.col("n") * 25 / 100))
            | (F.col("rk") == F.ceil(F.col("n") * 50 / 100))
            | (F.col("rk") == F.ceil(F.col("n") * 75 / 100))
        )
        .groupBy("n_name")
        .agg(
            F.min("cents").alias("q1"),
            F.max("cents").alias("q3"),
            F.max(
                F.when(F.col("rk") == F.ceil(F.col("n") * 50 / 100), F.col("cents"))
            ).alias("q2"),
        )
    )
    joined = rked.join(F.broadcast(quartiles), "n_name")
    iqr = F.col("q3") - F.col("q1")
    low = 2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr
    high = 2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr
    return joined.groupBy("n_name", "q1", "q2", "q3").agg(
        F.count("*").alias("n"),
        (F.col("q3") - F.col("q1")).alias("iqr"),
        F.sum(low.cast("bigint")).alias("n_low_outliers"),
        F.sum(high.cast("bigint")).alias("n_high_outliers"),
    ).select("n_name", "n", "q1", "q2", "q3", "iqr", "n_low_outliers", "n_high_outliers")


_BOXPLOT_SQL = """
WITH base AS (
  SELECT n_name, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey),
ranked AS (
  SELECT n_name, cents,
    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cents, o_orderkey) AS rk,
    COUNT(*) OVER (PARTITION BY n_name) AS n
  FROM base),
quartiles AS (
  SELECT n_name, MIN(cents) AS q1, MAX(cents) AS q3,
    MAX(CASE WHEN rk = CEIL(n * 50 / 100.0) THEN cents END) AS q2
  FROM ranked
  WHERE rk = CEIL(n * 25 / 100.0) OR rk = CEIL(n * 50 / 100.0)
     OR rk = CEIL(n * 75 / 100.0)
  GROUP BY n_name)
SELECT base.n_name, COUNT(*) AS n, q1, q2, q3, q3 - q1 AS iqr,
  SUM(CASE WHEN 2 * cents < 2 * q1 - 3 * (q3 - q1) THEN 1 ELSE 0 END) AS n_low_outliers,
  SUM(CASE WHEN 2 * cents > 2 * q3 + 3 * (q3 - q1) THEN 1 ELSE 0 END) AS n_high_outliers
FROM base JOIN quartiles ON base.n_name = quartiles.n_name
GROUP BY base.n_name, q1, q2, q3
"""


def q_conversion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative signup→purchase conversion at the 1/7/14/30-day
    marks: the share of the signup cohort converting within T days, in
    exact ppm — the business-facing complement of the survival hazard
    query. Per-user first-purchase offsets compute once (user-grain
    shuffle); the four thresholds fold into one conditional aggregation
    over a broadcast spine."""
    ev = _t(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    purchase = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    # ts >= t0 lives in the JOIN condition, not a post-join filter: a
    # signup user whose purchases are all pre-t0 must null-extend into
    # the cohort with t_days NULL, not vanish from it.
    s, p = signup.alias("s"), purchase.alias("p")
    offsets = (
        s.join(
            p,
            (F.col("s.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("s.t0")),
            "left",
        )
        .groupBy(F.col("s.user_id").alias("user_id"))
        .agg(
            F.min(
                F.datediff(F.col("p.ts").cast("date"), F.col("s.t0").cast("date"))
            ).alias("t_days")
        )
    )
    marks = spark.createDataFrame([(1,), (7,), (14,), (30,)], "t_mark int")
    return (
        offsets.crossJoin(F.broadcast(marks))
        .groupBy("t_mark")
        .agg(
            F.count("*").alias("n_cohort"),
            F.sum(
                (F.col("t_days").isNotNull() & (F.col("t_days") <= F.col("t_mark"))).cast("bigint")
            ).alias("n_converted"),
        )
        .select(
            "t_mark", "n_cohort", "n_converted",
            F.expr("(n_converted * 1000000L) div n_cohort").alias("conv_ppm"),
        )
    )


_CONV_CURVE_SQL = """
WITH signup AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
offsets AS (
  SELECT s.user_id,
    MIN(date_diff('day', CAST(t0 AS DATE), CAST(e.ts AS DATE))) AS t_days
  FROM signup s LEFT JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts >= s.t0
  GROUP BY s.user_id),
marks AS (SELECT unnest([1, 7, 14, 30]) AS t_mark)
SELECT t_mark, COUNT(*) AS n_cohort,
  SUM(CASE WHEN t_days IS NOT NULL AND t_days <= t_mark THEN 1 ELSE 0 END) AS n_converted,
  (SUM(CASE WHEN t_days IS NOT NULL AND t_days <= t_mark THEN 1 ELSE 0 END) * 1000000)
    // COUNT(*) AS conv_ppm
FROM offsets CROSS JOIN marks
GROUP BY t_mark
"""


def q_monthly_hhi_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration time series: the Herfindahl-Hirschman index
    of revenue shares across nations, per month (Σ shareᵢ², 1/25 =
    perfectly even … 1 = monopolized). Squares and totals accumulate as
    exact decimals (cents² passes int64 beyond sf~10), the share
    algebra runs once per month in double, rounded 6dp. One fact
    aggregation to month×nation, one 84-row reduce."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("mo"),
            "n_name",
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    sums = monthly.groupBy("mo").agg(
        F.count("*").alias("n_nations"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("tot"),
        F.sum(
            (F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)"))
        ).cast("double").alias("sq"),
    )
    return sums.select(
        "mo", "n_nations",
        F.round(F.col("sq") / (F.col("tot") * F.col("tot")), 6).alias("hhi"),
    )


_HHI_SQL = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mo,
    n_name,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
sums AS (
  SELECT mo, COUNT(*) AS n_nations,
    CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS tot,
    CAST(SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sq
  FROM monthly GROUP BY mo)
SELECT mo, n_nations, ROUND(sq / (tot * tot), 6) AS hhi
FROM sums
"""


def q_rebased_revenue_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed time series: each region's monthly revenue rebased to
    its own first month (= 1,000,000 ppm) — the '1995 = 100' economic-
    index report. FIRST_VALUE over the region window supplies the base;
    the index is exact ppm floor division. One fact aggregation to
    region×month, one window over the 420-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            "r_name",
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("mo"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"))
    )
    w = Window.partitionBy("r_name").orderBy("mo").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return monthly.withColumn(
        "base_cents", F.first_value("cents").over(w)
    ).select(
        "r_name", "mo", "cents",
        F.expr("(cents * 1000000) div base_cents").alias("index_ppm"),
    )


_REBASE_SQL = """
WITH monthly AS (
  SELECT r_name,
    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mo,
    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2)
SELECT r_name, mo, cents,
  (cents * 1000000) // FIRST_VALUE(cents) OVER (PARTITION BY r_name ORDER BY mo
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS index_ppm
FROM monthly
"""


