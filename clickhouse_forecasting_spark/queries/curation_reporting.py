# curation reporting, path analysis, corpus statistics
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, completed): it
# imports its dependencies explicitly; __init__.py merges its names
# into the shared package namespace so the registry and cross-family
# consumers see them exactly as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dedup as DD
from ..functions import lm as LM
from ..functions import text as TX
from ..operators import packing as PK
from ..operators import ranking as RK
from .catalog_relational import _dsum, _orders_daily, _t
from .dedup_ann_scale import _BAND_LIST_SQL, _P, _SHINGLES_SQL, _SIG_MINS_SQL
from .text_analysis import _NORM_SQL, _TOKS_SQL, _lang_case
# --------------------------------------------------------------------------
# round-2 additions: curation reporting, path analysis, corpus statistics
# --------------------------------------------------------------------------


def q_skew_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-safe aggregation surfaced as a registry query: the
    events fact grouped by its genuinely-hot key (a handful of event_type
    values own the whole table — the one skew case AQE cannot split,
    since a groupBy key is indivisible at the shuffle layer). salted_agg
    spreads each hot key over 16 salt shards for the heavy phase and
    merges 16 tiny partials per key; counts and decimal cents sums are
    commutative, so the result is EXACTLY the plain GROUP BY — which is
    what the DuckDB twin computes, proving salting changes the plan, not
    the answer."""
    from ..functions.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        ],
        lambda: [
            F.sum("n_events").alias("n_events"),
            F.sum("cents").alias("cents"),
        ],
    )
    return out.orderBy("event_type")


_SALTED_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation report: per (source, lang), how much of the corpus the
    near-dedup pass keeps — the number every data-mixture owner asks for.
    Consumes the SAME persisted banded-signature/shingle-set stages as the
    rest of the dedup family (cache_key), so the report costs one
    candidate join + a broadcast-joined rollup, not a corpus re-pass."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        docs.join(drop.withColumn("dropped", F.lit(1)), "doc_id", "left")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("dropped"), F.lit(0)).cast("bigint")).alias(
                "n_dropped"
            ),
        )
        .select(
            "source", "lang", "n_docs", "n_dropped",
            F.expr("((n_docs - n_dropped) * 1000000) div n_docs").alias(
                "keep_ratio_ppm"
            ),
        )
        .orderBy("source", "lang")
    )


_DEDUP_RATE_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shg FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents),
drop_ids AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.sh_set, sb.sh_set))
        / (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.8),
agg AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN d.doc_id IN (SELECT doc_id FROM drop_ids)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
  FROM documents d GROUP BY 1, 2)
SELECT source, lang, n_docs, n_dropped,
  ((n_docs - n_dropped) * 1000000) // n_docs AS keep_ratio_ppm
FROM agg ORDER BY source, lang
"""


def q_session_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey prefixes: 30-min-gap sessionization (the
    sessionization query's exact gap convention), the first 3 event types
    of each session joined with '>', counted across sessions — the funnel
    discovery report. The path pivot is 3 conditional MAX aggregates (no
    order-sensitive collect_list), so the result is engine-deterministic;
    top-20 rank ties break on the path string."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(sec - F.lag(sec).over(w) > 1800, 1)
        .otherwise(0)
        + F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    first3 = (
        flagged.withColumn("rn", F.row_number().over(w_sess))
        .groupBy("user_id", "sid")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("e1"),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("e2"),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("e3"),
            F.count("*").alias("n_events"),
        )
    )
    paths = (
        first3.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path"), "n_events"
        )
        .groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
        )
    )
    # distinct paths are only bounded if event_type is a closed enum —
    # not provable from the data, so top-k via TakeOrderedAndProject
    order = [F.desc("n_sessions"), F.col("path")]
    top = RK.top_k(paths, order, 20)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).select("rank", "path", "n_sessions", "total_events")


_SESSION_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
    (CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1 ELSE 0 END
     + CASE WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END) AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged),
numbered AS (
  SELECT user_id, sid, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn
  FROM sessions),
first3 AS (
  SELECT user_id, sid,
    MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
    MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
    MAX(CASE WHEN rn = 3 THEN event_type END) AS e3,
    COUNT(*) AS n_events
  FROM numbered GROUP BY 1, 2),
paths AS (
  SELECT concat_ws('>', e1, e2, e3) AS path,
    CAST(COUNT(*) AS BIGINT) AS n_sessions,
    CAST(SUM(n_events) AS BIGINT) AS total_events
  FROM first3 GROUP BY 1)
SELECT rank, path, n_sessions, total_events FROM (
  SELECT path, n_sessions, total_events,
    ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rank
  FROM paths)
WHERE rank <= 20
"""


def q_text_zipf_rank_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf profile of the corpus: global token frequencies, rank-ordered
    (count desc, token asc), top 50 — the vocabulary-concentration signal
    curation dashboards plot log-log. One explode + one aggregation; the
    vocabulary grows with the corpus (this repo's own
    heaps_law_vocab_growth query measures it), so the top-50 is
    TakeOrderedAndProject and the rank window runs over 50 rows only."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    counts = toks.groupBy("w").agg(F.count("*").alias("n"))
    order = [F.desc("n"), F.col("w")]
    top = RK.top_k(counts, order, 50)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).select("rank", "w", "n")


_ZIPF_SQL = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> '')) AS w
  FROM documents),
counts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w)
SELECT rank, w, n FROM (
  SELECT w, n, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank FROM counts)
WHERE rank <= 50
"""


def q_window_percentile_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + percent_rank coverage: every 200th customer (by balance
    order) per market segment with both distribution markers, 6dp — the
    sampled-CDF report shape. Ties in acctbal are real in the fixture, so
    both engines order by (acctbal, custkey): a TOTAL order, under which
    cume_dist = rn/n and percent_rank = (rn−1)/(n−1). The 5-segment enum
    would fan the customer table into 5 tasks under a plain partitioned
    window, so rn is the distributed grouped row_number with broadcast
    per-segment totals."""
    cust = _t(spark, sf_dir, "customer")
    rked = RK.grouped_row_number(
        cust.select(
            F.col("c_mktsegment").alias("seg"), "c_custkey", "c_acctbal"
        ),
        ["seg"],
        ["c_acctbal", "c_custkey"],
        col_name="rn",
    )
    totals = rked.groupBy("seg").agg(F.count("*").alias("n"))
    marked = rked.join(F.broadcast(totals), "seg").select(
        "seg",
        "c_custkey",
        F.col("rn").cast("int").alias("rn"),
        F.round(
            F.col("rn").cast("double") / F.col("n").cast("double"), 6
        ).alias("cume_dist"),
        F.round(
            (F.col("rn") - 1).cast("double")
            / F.greatest(F.col("n") - 1, F.lit(1)).cast("double"),
            6,
        ).alias("pct_rank"),
    )
    return marked.filter(F.col("rn") % 200 == 0).select(
        "seg", "c_custkey", "rn", "cume_dist", "pct_rank"
    )


_PCTL_MARKERS_SQL = """
SELECT seg, c_custkey, rn, cume_dist, pct_rank FROM (
  SELECT c_mktsegment AS seg, c_custkey,
    ROW_NUMBER() OVER w AS rn,
    round(CUME_DIST() OVER w, 6) AS cume_dist,
    round(PERCENT_RANK() OVER w, 6) AS pct_rank
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
WHERE rn % 200 = 0
"""


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planning: allocate a 100k-token sampling budget across
    (lang, source) strata proportionally to their token mass, exact to the
    last token via largest-remainder (the allocation_proration recipe on
    the corpus axis). All int64; one corpus aggregation + one 25-row
    window pass."""
    budget = 100_000
    toks = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.sum(
                F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != ""))
            ).cast("bigint").alias("n_tokens")
        )
    )
    w_all = Window.partitionBy()
    based = toks.withColumn("total", F.sum("n_tokens").over(w_all)).select(
        "lang", "source", "n_tokens", "total",
        F.expr(f"({budget}L * n_tokens) div total").alias("base_quota"),
        F.expr(f"({budget}L * n_tokens) % total").alias("rem"),
    )
    w_rem = Window.orderBy(F.desc("rem"), "lang", "source")
    w_sum = Window.partitionBy()
    return (
        based.withColumn("rem_rank", F.row_number().over(w_rem))
        .withColumn("assigned", F.sum("base_quota").over(w_sum))
        .select(
            "lang", "source", "n_tokens",
            (
                F.col("base_quota")
                + F.when(
                    F.col("rem_rank") <= F.lit(budget) - F.col("assigned"), 1
                ).otherwise(0)
            ).cast("bigint").alias("token_quota"),
        )
        .orderBy("lang", "source")
    )


_TOKEN_BUDGET_SQL = r"""
WITH toks AS (
  SELECT lang, source,
    CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
             x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2),
based AS (
  SELECT lang, source, n_tokens,
    SUM(n_tokens) OVER () AS total,
    (100000 * n_tokens) // SUM(n_tokens) OVER () AS base_quota,
    (100000 * n_tokens) % SUM(n_tokens) OVER () AS rem
  FROM toks),
ranked AS (
  SELECT lang, source, n_tokens, base_quota,
    ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source) AS rem_rank,
    SUM(base_quota) OVER () AS assigned
  FROM based)
SELECT lang, source, n_tokens,
  CAST(base_quota + CASE WHEN rem_rank <= 100000 - assigned THEN 1 ELSE 0 END
       AS BIGINT) AS token_quota
FROM ranked ORDER BY lang, source
"""


def q_corpus_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): per source shard,
    tokens are concatenated in doc_id order and cut every 256; the
    report shows, per (shard, context window), how many docs feed it,
    how many straddle in from the previous window, and its fill. One
    window cumsum per shard + a bounded explode — closed-form, fully
    codegen'd, identical SQL on the oracle side."""
    return PK.pack_concat_chunks(_t(spark, sf_dir, "documents"))


_PACK_CHUNKS_SQL = r"""
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
         x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
pos AS (
  SELECT source, doc_id, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM toks WHERE n_tokens > 0),
spans AS (
  SELECT source, n_tokens, cum_before,
    cum_before // 256 AS first_bin,
    (cum_before + n_tokens - 1) // 256 AS last_bin
  FROM pos),
binned AS (
  SELECT source, n_tokens, cum_before, first_bin,
    unnest(generate_series(first_bin, last_bin)) AS bin_id
  FROM spans)
SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN first_bin < bin_id THEN 1 ELSE 0 END) AS BIGINT) AS n_carry,
  CAST(SUM(LEAST((bin_id + 1) * 256, cum_before + n_tokens)
         - GREATEST(bin_id * 256, cum_before)) AS BIGINT) AS bin_tokens
FROM binned GROUP BY source, bin_id ORDER BY source, bin_id
"""


def q_corpus_pack_firstfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing: docs fill the current 256-token
    bin until the next would overflow. The per-shard fill recurrence is
    sequential, so Spark runs it as applyInPandas (one scan per source
    shard); the oracle replays the identical recurrence with a recursive
    CTE that advances every shard one document per step."""
    return PK.pack_first_fit(_t(spark, sf_dir, "documents"))


_PACK_FIRSTFIT_SQL = r"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
         x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
docs AS (
  SELECT source, doc_id, n_tokens,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM toks WHERE n_tokens > 0),
pack(source, rn, doc_id, n_tokens, bin_id, fill) AS (
  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.source, d.rn, d.doc_id, d.n_tokens,
    CASE WHEN p.fill + d.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
    CASE WHEN p.fill + d.n_tokens > 256 THEN d.n_tokens
         ELSE p.fill + d.n_tokens END
  FROM pack p JOIN docs d ON d.source = p.source AND d.rn = p.rn + 1)
SELECT source, doc_id, n_tokens, bin_id FROM pack ORDER BY source, doc_id
"""


def q_corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-indexing twin of the packing family: sliding 128-token windows
    with stride 64 (50% overlap) per document; the manifest prices the
    index amplification a vector store pays for the overlap. Per-doc
    window sums fold row-locally (aggregate over the index sequence), so
    the only shuffle is the per-shard rollup."""
    return PK.chunk_overlap_manifest(_t(spark, sf_dir, "documents"))


_CHUNK_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
         x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents),
per_doc AS (
  SELECT source, n_tokens,
    1 + GREATEST(0, (n_tokens - 128 + 63) // 64) AS k
  FROM toks WHERE n_tokens > 0),
folded AS (
  SELECT source, n_tokens, k,
    list_sum(list_transform(generate_series(0, k - 1),
      i -> LEAST(128, n_tokens - i * 64))) AS win_tokens,
    list_sum(list_transform(generate_series(0, k - 1),
      i -> CASE WHEN n_tokens - i * 64 >= 128 THEN 1 ELSE 0 END)) AS full_windows
  FROM per_doc)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(SUM(k) AS BIGINT) AS n_windows,
  CAST(SUM(win_tokens) AS BIGINT) AS window_tokens,
  CAST(SUM(win_tokens) * 1000000 // SUM(n_tokens) AS BIGINT) AS expansion_ppm,
  CAST(SUM(full_windows) * 1000000 // SUM(k) AS BIGINT) AS full_share_ppm
FROM folded GROUP BY source ORDER BY source
"""


def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the dedup index: per LSH candidate
    pair, the MinHash-estimated Jaccard (fraction of agreeing signature
    components) against the exact shingle Jaccard. This is the telemetry
    that justifies band/row parameters before a 100 TB run. Reads the
    SAME persisted signature/shingle-set stages as the dedup family —
    zero extra corpus passes."""
    docs = _t(spark, sf_dir, "documents")
    cand = DD.minhash_lsh_candidates(docs, cache_key=sf_dir)
    sig = DD.numeric_signatures(docs, cache_key=sf_dir)
    exact = DD.lsh_verified_pairs(docs, threshold=0.0, cache_key=sf_dir).select(
        "id_a", "id_b", "jaccard"
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(16)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (matches / F.lit(16.0)).alias("est"))
    )
    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        F.round("est", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
        F.round(F.abs(F.col("est") - F.col("jaccard")), 6).alias("abs_err"),
    )


_MINHASH_EST_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(16)
)

_MINHASH_ERR_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
est AS (
  SELECT c.id_a, c.id_b, ({_MINHASH_EST_MATCH_SQL}) / 16.0 AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b),
sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents),
verified AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(sa.sh_set, sb.sh_set))
      / (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set))) AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b)
SELECT e.id_a, e.id_b, round(e.est, 6) AS est_jaccard,
  round(v.jaccard, 6) AS jaccard,
  round(abs(e.est - v.jaccard), 6) AS abs_err
FROM est e JOIN verified v ON v.id_a = e.id_a AND v.id_b = e.id_b
"""


def q_embedding_standardize_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization audit for the embedding corpus:
    mean, stddev (both from exact decimal sums, so the doubles agree
    bit-for-bit cross-engine), and the tail census beyond mean +/- 2.5
    sd. Two passes over the exploded values with a broadcast of the
    64-row stats frame; output is 64 rows regardless of corpus size."""
    em = _t(spark, sf_dir, "embeddings")
    vals = em.select(
        F.col("vec_id"), F.posexplode("embedding").alias("dim", "v0")
    ).select("vec_id", "dim", F.col("v0").cast("double").alias("v"))
    stats = vals.groupBy("dim").agg(
        _dsum(F.col("v")).alias("s"),
        _dsum(F.col("v") * F.col("v")).alias("s2"),
        F.count("*").cast("bigint").alias("n"),
    )
    m = stats.select(
        "dim",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            F.greatest(
                (F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    return (
        vals.join(F.broadcast(m), "dim")
        .groupBy("dim", "mean", "sd")
        .agg(
            F.sum(
                F.when(F.col("v") > F.col("mean") + 2.5 * F.col("sd"), 1).otherwise(0)
            ).cast("bigint").alias("n_hi"),
            F.sum(
                F.when(F.col("v") < F.col("mean") - 2.5 * F.col("sd"), 1).otherwise(0)
            ).cast("bigint").alias("n_lo"),
        )
        .select(
            "dim",
            F.round("mean", 6).alias("mean_v"),
            F.round("sd", 6).alias("sd_v"),
            "n_hi",
            "n_lo",
        )
        .orderBy("dim")
    )


_EMB_STANDARDIZE_SQL = """
WITH vals AS (
  SELECT vec_id, dim - 1 AS dim, CAST(v AS DOUBLE) AS v
  FROM (
    SELECT vec_id, unnest(embedding) AS v,
           unnest(generate_series(1, len(embedding))) AS dim
    FROM embeddings)),
stats AS (
  SELECT dim,
    CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) AS s,
    CAST(SUM(CAST(v * v AS DECIMAL(38,10))) AS DOUBLE) AS s2,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM vals GROUP BY dim),
m AS (
  SELECT dim, s / n AS mean,
    sqrt(greatest((s2 - s * s / n) / (n - 1), 0.0)) AS sd
  FROM stats)
SELECT v.dim, round(m.mean, 6) AS mean_v, round(m.sd, 6) AS sd_v,
  CAST(SUM(CASE WHEN v.v > m.mean + 2.5 * m.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
  CAST(SUM(CASE WHEN v.v < m.mean - 2.5 * m.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
FROM vals v JOIN m ON v.dim = m.dim
GROUP BY v.dim, m.mean, m.sd ORDER BY v.dim
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of labeled lang vs the
    n-gram-heuristic prediction, with an exact ppm share of each true
    lang's row. The eval every classifier-driven curation step needs
    before it gates a 100 TB corpus; one groupBy + a 25-row window."""
    docs = _t(spark, sf_dir, "documents")
    cm = (
        docs.select("lang", TX.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang")
    return (
        cm.withColumn("lang_total", F.sum("n").over(w))
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("n * 1000000L div lang_total").alias("share_ppm"),
        )
        .orderBy("lang", "lang_pred")
    )


_LANG_CONFUSION_SQL = f"""
WITH pred AS (SELECT lang, {_lang_case()} AS lang_pred FROM documents),
cm AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2)
SELECT lang, lang_pred, n,
  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
FROM cm ORDER BY lang, lang_pred
"""


def q_incremental_rollup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance invariant, surfaced as a query: the
    daily events rollup maintained as base-through-Jan-20 PLUS a delta of
    later events, merged additively (operators/incremental.py), must
    equal the batch recompute — which is exactly what the DuckDB oracle
    computes. Sums carry exact decimal partials through the merge so the
    two-stage addition is bit-identical to the oracle's one-stage sum.
    At 100 TB the same algebra runs against touched partitions only
    (maintain_daily_rollup); cost tracks the delta, not the view."""
    from ..operators import incremental as IV

    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21").cast("timestamp")

    def roll(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("date", F.to_date("ts"))
            .groupBy("date")
            .agg(
                F.count("*").cast("bigint").alias("event_count"),
                F.sum(F.col("value").cast("decimal(38,10)")).alias("total_value"),
            )
        )

    base = roll(ev.filter(F.col("ts") < cutoff))
    delta = roll(ev.filter(F.col("ts") >= cutoff))
    merged = IV.merge_additive(base, delta, keys=["date"])
    return merged.select(
        "date",
        F.col("event_count").cast("bigint").alias("event_count"),
        F.round(F.col("total_value").cast("double"), 6).alias("total_value"),
    ).orderBy("date")


_INCR_ROLLUP_SQL = """
SELECT CAST(ts AS DATE) AS date,
  CAST(COUNT(*) AS BIGINT) AS event_count,
  round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6) AS total_value
FROM events GROUP BY 1 ORDER BY 1
"""


# Bloom filter geometry for the semi-join audit: 2^18 bits as 8192
# 32-bit words (shift <= 31 keeps every mask positive and in-range for
# both engines' BIGINT shift), 2 md5-derived hash functions.
_BLOOM_BITS = 262144
_BLOOM_WORD = 32


def q_bloom_semi_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom semi-join) audit: a 32 KiB bit array built
    from the urgent-order keys stands in for the multi-GB build side of
    orders⋉lineitem — the probe side tests 2 bits per key before any
    shuffle. The audit reports the exact-vs-bloom pass counts and the
    measured false-positive rate, which is the number that sizes the
    filter before a 100 TB run (where the bitmap ships as one broadcast
    and the filtered probe side skips the join shuffle for ~99% of
    rows). All arithmetic is md5-derived integer ops, identical in the
    oracle."""
    m, w = _BLOOM_BITS, _BLOOM_WORD

    def h(col: F.Column, salt: str) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15),
                16,
                10,
            ).cast("long")
            % m
        )

    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
    )
    positions = urgent.select(h(F.col("k"), "a").alias("pos")).unionAll(
        urgent.select(h(F.col("k"), "b").alias("pos"))
    )
    words = (
        positions.select(
            F.expr(f"pos div {w}").alias("word_idx"),
            F.expr(f"shiftleft(cast(1 as bigint), cast(pos % {w} as int))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )
    probe = (
        _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k")).distinct()
    )
    probed = probe.select(
        "k",
        h(F.col("k"), "a").alias("h1"),
        h(F.col("k"), "b").alias("h2"),
    )
    w1 = words.select(F.col("word_idx").alias("w1"), F.col("word").alias("word1"))
    w2 = words.select(F.col("word_idx").alias("w2"), F.col("word").alias("word2"))
    checked = (
        probed.withColumn("w1", F.expr(f"h1 div {w}"))
        .withColumn("m1", F.expr(f"shiftleft(cast(1 as bigint), cast(h1 % {w} as int))"))
        .withColumn("w2", F.expr(f"h2 div {w}"))
        .withColumn("m2", F.expr(f"shiftleft(cast(1 as bigint), cast(h2 % {w} as int))"))
        .join(F.broadcast(w1), "w1", "left")
        .join(F.broadcast(w2), "w2", "left")
        .withColumn(
            "bloom_pass",
            (F.coalesce(F.col("word1"), F.lit(0)).bitwiseAND(F.col("m1")) != 0)
            & (F.coalesce(F.col("word2"), F.lit(0)).bitwiseAND(F.col("m2")) != 0),
        )
    )
    exact = urgent.distinct().withColumn("is_urgent", F.lit(1))
    audited = checked.join(exact, checked.k == exact.k, "left")
    return audited.agg(
        F.count("*").cast("bigint").alias("n_probed"),
        F.sum(F.coalesce(F.col("is_urgent"), F.lit(0))).cast("bigint").alias("n_exact"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("bigint").alias("n_bloom_pass"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("is_urgent").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_false_pos"),
        F.sum(F.when(~F.col("bloom_pass") & F.col("is_urgent").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_false_neg"),
    )


_BLOOM_SQL = f"""
WITH urgent AS (
  SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
positions AS (
  SELECT ('0x' || substr(md5('a' || CAST(k AS VARCHAR)), 1, 15))::BIGINT
         % {_BLOOM_BITS} AS pos FROM urgent
  UNION ALL
  SELECT ('0x' || substr(md5('b' || CAST(k AS VARCHAR)), 1, 15))::BIGINT
         % {_BLOOM_BITS} AS pos FROM urgent),
words AS (
  SELECT pos // {_BLOOM_WORD} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS word
  FROM positions GROUP BY 1),
probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
hashed AS (
  SELECT k,
    ('0x' || substr(md5('a' || CAST(k AS VARCHAR)), 1, 15))::BIGINT
      % {_BLOOM_BITS} AS h1,
    ('0x' || substr(md5('b' || CAST(k AS VARCHAR)), 1, 15))::BIGINT
      % {_BLOOM_BITS} AS h2
  FROM probe),
checked AS (
  SELECT h.k,
    (COALESCE(w1.word, 0) & (1::BIGINT << CAST(h.h1 % {_BLOOM_WORD} AS INTEGER))) <> 0
    AND
    (COALESCE(w2.word, 0) & (1::BIGINT << CAST(h.h2 % {_BLOOM_WORD} AS INTEGER))) <> 0
      AS bloom_pass,
    u.k IS NOT NULL AS is_urgent
  FROM hashed h
  LEFT JOIN words w1 ON w1.word_idx = h.h1 // {_BLOOM_WORD}
  LEFT JOIN words w2 ON w2.word_idx = h.h2 // {_BLOOM_WORD}
  LEFT JOIN (SELECT DISTINCT k FROM urgent) u ON u.k = h.k)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
  CAST(SUM(CASE WHEN is_urgent THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
  CAST(SUM(CASE WHEN bloom_pass AND NOT is_urgent THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos,
  CAST(SUM(CASE WHEN NOT bloom_pass AND is_urgent THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_neg
FROM checked
"""


def q_holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, alpha=0.2,
    beta=0.1) of daily order revenue — a second, fully HASH-GATED model
    family beside the Prophet-style surface (whose model outputs are
    rows-only). The recurrence is inherently sequential, so it runs in
    applyInPandas per series; the oracle replays the identical
    IEEE-double recurrence in a recursive CTE. No rounding anywhere:
    both engines execute the same op sequence on the same doubles, so
    the bits match and the harness's %.6f canonicalization agrees.
    Scale shape: one task per (table, metric) series like the
    forecaster; state is O(1) per series."""
    import pandas as pd

    daily = _orders_daily(spark, sf_dir).select(
        "date", F.col("total_revenue").cast("double").alias("y")
    )
    alpha, beta = 0.2, 0.1

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        if len(pdf) < 2:
            return pd.DataFrame(
                {"date": [], "level": [], "trend": [], "fitted": []}
            )
        y = pdf["y"].tolist()
        lvl, tr = y[0], y[1] - y[0]
        levels, trends, fitted = [lvl], [tr], [y[0]]
        for i in range(1, len(y)):
            fit = lvl + tr
            new_lvl = alpha * y[i] + (1 - alpha) * (lvl + tr)
            tr = beta * (new_lvl - lvl) + (1 - beta) * tr
            lvl = new_lvl
            levels.append(lvl)
            trends.append(tr)
            fitted.append(fit)
        return pd.DataFrame(
            {"date": pdf["date"], "level": levels, "trend": trends, "fitted": fitted}
        )

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: _holt(pdf),
            "date date, level double, trend double, fitted double",
        )
        .orderBy("date")
    )


_HOLT_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS y,
    ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS rn
  FROM orders GROUP BY 1),
init AS (
  SELECT a.d, a.y, a.rn, a.y AS level, b.y - a.y AS trend, a.y AS fitted
  FROM daily a JOIN daily b ON b.rn = 2 WHERE a.rn = 1),
holt(d, y, rn, level, trend, fitted) AS (
  SELECT d, y, rn, level, trend, fitted FROM init
  UNION ALL
  SELECT n.d, n.y, n.rn,
    0.2 * n.y + (1 - 0.2) * (h.level + h.trend),
    0.1 * ((0.2 * n.y + (1 - 0.2) * (h.level + h.trend)) - h.level)
      + (1 - 0.1) * h.trend,
    h.level + h.trend
  FROM holt h JOIN daily n ON n.rn = h.rn + 1)
SELECT d AS date, level, trend, fitted FROM holt ORDER BY d
"""


def q_corpus_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (96/2/2 by md5 of the
    doc id — stable across runs, engines, and cluster sizes, which is
    what makes a 100 TB split reproducible and leak-free), reported as
    doc and token mass per (source, split). Pure row-local hashing +
    one rollup; no shuffle beyond the final aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 100
    )
    n_tokens = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    ).cast("bigint")
    split = (
        F.when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test")
    )
    return (
        docs.select(F.col("source"), split.alias("split"), n_tokens.alias("t"))
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("t").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


_SPLIT_SQL = r"""
WITH assigned AS (
  SELECT source,
    CASE
      WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 100 < 96 THEN 'train'
      WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 100 < 98 THEN 'val'
      ELSE 'test' END AS split,
    CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
         x -> x <> '')) AS BIGINT) AS t
  FROM documents)
SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(t) AS BIGINT) AS n_tokens
FROM assigned GROUP BY 1, 2 ORDER BY source, split
"""


_HASH_EMB_DIM = 16


def q_text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embedding (the hashing trick): each token
    maps to one of 16 dimensions by md5, per-dim counts form the vector.
    This is the deterministic 'embed' step that connects the documents
    table to the similarity stack without any model — and unlike learned
    embeddings it is exactly replayable in SQL, so the whole vector is
    hash-gated. One explode + one groupBy with 16 conditional sums
    (codegen'd; ONE md5 per token, not per (token, dim))."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("t")
    )
    dim = (
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
        % _HASH_EMB_DIM
    )
    dimmed = tok.select("doc_id", dim.alias("dim"))
    return (
        dimmed.groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("dim") == i, 1).otherwise(0))
                .cast("bigint")
                .alias(f"f{i}")
                for i in range(_HASH_EMB_DIM)
            ]
        )
        .orderBy("doc_id")
    )


_HASH_EMB_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents),
dims AS (
  SELECT doc_id,
    ('0x' || substr(md5(t), 1, 15))::BIGINT % {_HASH_EMB_DIM} AS dim
  FROM tok)
SELECT doc_id,
  {", ".join(f"CAST(SUM(CASE WHEN dim = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}" for i in range(_HASH_EMB_DIM))}
FROM dims GROUP BY doc_id ORDER BY doc_id
"""


def q_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel with stage attribution: every document is
    claimed by the FIRST rule that rejects it — (1) too short (< 30
    tokens), (2) near-dup loser (min-id keeper over the Jaccard-0.8
    verified pairs, riding the persisted LSH stages), (3) LM quality
    (bigram score below half the corpus mean) — or survives to `kept`.
    Per-source stage counts are what a pipeline owner reads to see WHICH
    rule is eating their corpus. All thresholds and scores are exact
    integers, so the whole funnel is hash-gated.

    Scale: the LM per-doc scores and dup set are the two non-row-local
    inputs; the corpus-mean threshold is a broadcast single-row aggregate
    (never a global window), and the stage attribution itself is one
    row-local CASE over the joined flags."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    dup = (
        DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    # shared cached stage with bigram_lm_quality: one train + one score
    # pass per run, no matter how many queries consume the scores
    per_doc = LM.doc_scores(docs, cache_key=sf_dir)
    thr = per_doc.agg(
        F.expr("sum(sum_ppm) div sum(n_bigrams)").cast("bigint").alias("corpus_ppm")
    )
    stage = (
        base.join(dup, "doc_id", "left")
        .join(per_doc.select("doc_id", "mean_ppm"), "doc_id", "left")
        .crossJoin(F.broadcast(thr))
        .withColumn(
            "stage",
            F.when(F.col("n_tok") < 30, F.lit("drop_short"))
            .when(F.col("is_dup") == 1, F.lit("drop_near_dup"))
            .when(
                F.col("mean_ppm") * 2 < F.col("corpus_ppm"), F.lit("drop_low_lm")
            )
            .otherwise(F.lit("kept")),
        )
    )
    return (
        stage.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("stage") == "drop_short", 1).otherwise(0))
            .cast("bigint")
            .alias("drop_short"),
            F.sum(F.when(F.col("stage") == "drop_near_dup", 1).otherwise(0))
            .cast("bigint")
            .alias("drop_near_dup"),
            F.sum(F.when(F.col("stage") == "drop_low_lm", 1).otherwise(0))
            .cast("bigint")
            .alias("drop_low_lm"),
            F.sum(F.when(F.col("stage") == "kept", 1).otherwise(0))
            .cast("bigint")
            .alias("kept"),
        )
        .orderBy("source")
    )


_CURATION_FUNNEL_SQL = f"""
WITH base AS (
  SELECT doc_id, source, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tok
  FROM documents),
s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shg FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents),
dup AS (
  SELECT DISTINCT c.id_b AS doc_id, 1 AS is_dup
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.sh_set, sb.sh_set))
      / (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)))
      >= 0.8),
tk AS (
  SELECT doc_id, {_TOKS_SQL} AS l FROM documents
  WHERE len({_TOKS_SQL}) >= 2),
bg AS (
  SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM tk),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
lm AS (
  SELECT c2.w1, c2.w2, c2.c2 * 1000000 // c1.c1 AS p_ppm
  FROM c2 JOIN c1 ON c1.w1 = c2.w1),
per_doc AS (
  SELECT bg.doc_id, COUNT(*) AS n_bigrams, SUM(p_ppm) AS sum_ppm,
    SUM(p_ppm) // COUNT(*) AS mean_ppm
  FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
  GROUP BY bg.doc_id),
thr AS (SELECT SUM(sum_ppm) // SUM(n_bigrams) AS corpus_ppm FROM per_doc),
staged AS (
  SELECT b.source,
    CASE WHEN b.n_tok < 30 THEN 'drop_short'
         WHEN d.is_dup = 1 THEN 'drop_near_dup'
         WHEN p.mean_ppm * 2 < t.corpus_ppm THEN 'drop_low_lm'
         ELSE 'kept' END AS stage
  FROM base b
  LEFT JOIN dup d ON d.doc_id = b.doc_id
  LEFT JOIN per_doc p ON p.doc_id = b.doc_id
  CROSS JOIN thr t)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN stage = 'drop_short' THEN 1 ELSE 0 END) AS BIGINT) AS drop_short,
  CAST(SUM(CASE WHEN stage = 'drop_near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS drop_near_dup,
  CAST(SUM(CASE WHEN stage = 'drop_low_lm' THEN 1 ELSE 0 END) AS BIGINT) AS drop_low_lm,
  CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM staged GROUP BY source ORDER BY source
"""


def q_corpus_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity telemetry: treating doc_id as crawl order, what
    fraction of each document's 5-char shingles has never been seen
    before? A healthy crawl keeps novelty high; a collapsing one trends
    toward boilerplate. Report: per (source, arrival decile), docs and
    novelty ppm. The only corpus-sized shuffle is the min-doc-per-shingle
    aggregate (map-side combined); per-doc novel counts come from that
    aggregate alone (groupBy first_doc — no join back to the exploded
    shingles), and per-doc shingle counts are row-local set sizes from
    the dedup family's persisted shingle-set stage."""
    docs = _t(spark, sf_dir, "documents")
    sets = DD.shingle_sets(docs, cache_key=sf_dir)
    exploded = sets.select("doc_id", F.explode("sh_set").alias("sh"))
    first = exploded.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_novel")
    )
    per_doc = (
        sets.select("doc_id", F.size("sh_set").cast("bigint").alias("n_sh"))
        .join(novel, "doc_id", "left")
        .fillna(0, subset=["n_novel"])
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    # per-source arrival deciles via the distributed grouped row_number +
    # the shared SQL-exact NTILE arithmetic — a window partitioned by the
    # source enum would fan the per-doc frame into ≤|sources| tasks
    rked = RK.grouped_row_number(per_doc, ["source"], ["doc_id"], "__rn")
    totals = rked.groupBy("source").agg(F.count("*").alias("__n"))
    binned = RK.with_ntile_from_rn(
        rked.join(F.broadcast(totals), "source"), "__rn", "__n", 10, "decile"
    )
    return (
        binned.withColumn("decile", F.col("decile").cast("bigint"))
        .groupBy("source", "decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("n_shingles"),
            F.expr("sum(n_novel) * 1000000 div sum(n_sh)")
            .cast("bigint")
            .alias("novelty_ppm"),
        )
        .orderBy("source", "decile")
    )


_NOVELTY_SQL = f"""
WITH sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents),
exploded AS (SELECT doc_id, unnest(sh_set) AS sh FROM sets),
first AS (SELECT sh, MIN(doc_id) AS first_doc FROM exploded GROUP BY sh),
novel AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel FROM first GROUP BY first_doc),
per_doc AS (
  SELECT s.doc_id, len(s.sh_set) AS n_sh, COALESCE(n.n_novel, 0) AS n_novel,
    d.source
  FROM sets s
  LEFT JOIN novel n ON n.doc_id = s.doc_id
  JOIN documents d ON d.doc_id = s.doc_id),
binned AS (
  SELECT source, n_sh, n_novel,
    NTILE(10) OVER (PARTITION BY source ORDER BY doc_id) AS decile
  FROM per_doc)
SELECT source, CAST(decile AS BIGINT) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
  CAST(SUM(n_novel) * 1000000 // SUM(n_sh) AS BIGINT) AS novelty_ppm
FROM binned GROUP BY source, decile ORDER BY source, decile
"""


def q_source_domain_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing analytics: cosine similarity between source shards in
    the feature-hash embedding space (per-source token-count vectors over
    the same 16 md5 dims as text_hash_embedding). The corpus reduces to
    one 16-dim integer vector per source (one explode + groupBy, map-side
    combined); the pair stage is an inequality join over the CHECKPOINTED
    |sources|-row aggregate — bounded at every scale factor (cf. the
    rank_correlation/triangles lesson), never over docs. Dot products and
    norms are exact bigints; the only doubles are the final sqrt/divide,
    computed in the same op order both engines."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("t"))
    dim = (
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long") % _HASH_EMB_DIM
    )
    vec = (
        tok.select("source", dim.alias("dim"))
        .groupBy("source")
        .agg(
            *[
                F.sum(F.when(F.col("dim") == i, 1).otherwise(0))
                .cast("bigint")
                .alias(f"f{i}")
                for i in range(_HASH_EMB_DIM)
            ]
        )
        .localCheckpoint(eager=True)  # tiny; prevents double corpus derivation
    )
    a = vec.select(
        F.col("source").alias("source_x"),
        *[F.col(f"f{i}").alias(f"a{i}") for i in range(_HASH_EMB_DIM)],
    )
    b = vec.select(
        F.col("source").alias("source_y"),
        *[F.col(f"f{i}").alias(f"b{i}") for i in range(_HASH_EMB_DIM)],
    )
    dot = sum(F.col(f"a{i}") * F.col(f"b{i}") for i in range(_HASH_EMB_DIM))
    na2 = sum(F.col(f"a{i}") * F.col(f"a{i}") for i in range(_HASH_EMB_DIM))
    nb2 = sum(F.col(f"b{i}") * F.col(f"b{i}") for i in range(_HASH_EMB_DIM))
    return (
        a.join(b, F.col("source_x") < F.col("source_y"))
        .select(
            "source_x",
            "source_y",
            dot.cast("bigint").alias("dot"),
            F.round(
                dot
                / (
                    F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy("source_x", "source_y")
    )


_DOMAIN_SIM_SQL = f"""
WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS t FROM documents),
dims AS (
  SELECT source,
    ('0x' || substr(md5(t), 1, 15))::BIGINT % {_HASH_EMB_DIM} AS dim
  FROM tok),
vec AS (
  SELECT source,
    {", ".join(f"CAST(SUM(CASE WHEN dim = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}" for i in range(_HASH_EMB_DIM))}
  FROM dims GROUP BY source)
SELECT a.source AS source_x, b.source AS source_y,
  CAST(({" + ".join(f"a.f{i} * b.f{i}" for i in range(_HASH_EMB_DIM))}) AS BIGINT) AS dot,
  round(({" + ".join(f"a.f{i} * b.f{i}" for i in range(_HASH_EMB_DIM))})
    / (sqrt(CAST(({" + ".join(f"a.f{i} * a.f{i}" for i in range(_HASH_EMB_DIM))}) AS DOUBLE))
       * sqrt(CAST(({" + ".join(f"b.f{i} * b.f{i}" for i in range(_HASH_EMB_DIM))}) AS DOUBLE))), 6) AS cosine
FROM vec a JOIN vec b ON a.source < b.source
ORDER BY source_x, source_y
"""


def q_stream_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: treating event_id as arrival order, how
    late does each event arrive relative to the max event-time seen so
    far? The p50/p90/p99/max lateness (exact rank picks) and the ppm of
    events later than 60 s are exactly the numbers that choose a
    Structured Streaming `withWatermark` delay. Both global passes are
    DISTRIBUTED (operators/ranking): the arrival-order running max
    stitches per-partition cummax with broadcast prefix maxima, and the
    exact rank picks fold to the CDF over DISTINCT lateness values
    (r12, guide §2.3 "aggregate before you shuffle"): the quantile rank
    r's value in (late_us, tiebreak) order is min{v : cum_count(v) >= r}
    — tie order never reaches the picked VALUE — so only the per-value
    count frame rides the distributed running sum, not the fact. vs the
    r11 shape this drops one fact-grain ranged shuffle + eager
    localCheckpoint + a separate count() job + the offsets join-back;
    the dispatch opt-in follows the ks_test cost model (over-cap probe
    feeds the ranged fallback's two passes — ranking.dispatch_small)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    cm = RK.global_running_max(ev, ["event_id"], "us", "cummax_us")
    late = cm.select((F.col("cummax_us") - F.col("us")).alias("late_us"))
    cnt = late.groupBy("late_us").agg(F.count("*").alias("__lc"))
    # worst case, every event's lateness is distinct and this frame has
    # one row per event: past FASTPATH_MAX_ROWS the dispatch then routes
    # it to the ranged machinery, never to one single-partition task
    cum = RK.global_running_sum(
        cnt, ["late_us"], ["__lc"], ["__lcum"],
        dispatch=True,
    )
    total = cum.agg(F.max("__lcum").cast("bigint").alias("__ln"))

    def pick(q: float) -> F.Column:
        # value at global rank ceil(n*q): first distinct late_us whose
        # inclusive cumulative count reaches the rank (CEIL on the same
        # double product the rk== form ceiled, so picks are identical)
        return F.min(
            F.when(
                F.col("__lcum") >= F.ceil(F.col("__ln") * F.lit(q)),
                F.col("late_us"),
            )
        )

    agg = cum.crossJoin(F.broadcast(total)).agg(
        F.max("__ln").cast("bigint").alias("n_events"),
        pick(0.5).alias("p50_late_us"),
        pick(0.9).alias("p90_late_us"),
        pick(0.99).alias("p99_late_us"),
        F.max("late_us").alias("max_late_us"),
        F.expr(
            "CAST(SUM(CASE WHEN late_us > 60000000 THEN __lc ELSE 0 END)"
            " * 1000000 div MAX(__ln) AS BIGINT)"
        ).alias("over_60s_ppm"),
    )
    return agg.select(
        "n_events", "p50_late_us", "p90_late_us", "p99_late_us",
        "max_late_us", "over_60s_ppm",
    )


_LATENESS_SQL = """
WITH ev AS (SELECT event_id, epoch_us(ts) AS us FROM events),
late AS (
  SELECT event_id,
    MAX(us) OVER (ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us AS late_us
  FROM ev),
ranked AS (
  SELECT late_us,
    ROW_NUMBER() OVER (ORDER BY late_us, event_id) AS rk,
    COUNT(*) OVER () AS n
  FROM late)
SELECT CAST(MAX(n) AS BIGINT) AS n_events,
  CAST(MAX(CASE WHEN rk = CAST(CEIL(n * 0.5) AS BIGINT) THEN late_us END)
    AS BIGINT) AS p50_late_us,
  CAST(MAX(CASE WHEN rk = CAST(CEIL(n * 0.9) AS BIGINT) THEN late_us END)
    AS BIGINT) AS p90_late_us,
  CAST(MAX(CASE WHEN rk = CAST(CEIL(n * 0.99) AS BIGINT) THEN late_us END)
    AS BIGINT) AS p99_late_us,
  CAST(MAX(late_us) AS BIGINT) AS max_late_us,
  CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) * 1000000
    // MAX(n) AS BIGINT) AS over_60s_ppm
FROM ranked
"""


def q_boilerplate_prefix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prevalence report: per source shard, the modal 16-char
    normalized document prefix and its share. Scraped corpora concentrate
    templated headers/navigation in the document head, so a shard whose
    modal prefix share spikes is a boilerplate-stripping candidate before
    tokenization. One (source, prefix) groupBy with map-side combine,
    then the per-source top-1 as a struct-min ARGMAX aggregation (min of
    (−n, prefix) = max count with min-prefix tiebreak) — distinct
    prefixes grow with the corpus, so a source-partitioned top-1 window
    would fan them into ≤|sources| tasks; the argmax aggregates
    map-side instead. Totals join broadcast-sized."""
    docs = _t(spark, sf_dir, "documents")
    pre = docs.select(
        "source", F.substring(TX.normalize_text(F.col("text")), 1, 16).alias("pre")
    )
    # prefix-type-bounded aggregate referenced twice (top + totals):
    # checkpoint so the corpus scan runs once (cf. the khop/vol lesson)
    counts = (
        pre.groupBy("source", "pre")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    top = (
        counts.groupBy("source")
        .agg(
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("pre").alias("p"))
            ).alias("b")
        )
        .select(
            "source",
            F.col("b.p").alias("modal_prefix"),
            (-F.col("b.nn")).alias("modal_n"),
        )
    )
    totals = counts.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_prefixes"),
    )
    return (
        totals.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_prefixes",
            "modal_prefix",
            F.col("modal_n").cast("bigint").alias("modal_n"),
            F.expr("modal_n * 1000000 div n_docs").cast("bigint").alias("modal_share_ppm"),
        )
        .orderBy("source")
    )


_BOILERPLATE_SQL = f"""
WITH p AS (SELECT source, substr({_NORM_SQL}, 1, 16) AS pre FROM documents),
counts AS (SELECT source, pre, COUNT(*) AS n FROM p GROUP BY source, pre),
top AS (
  SELECT source, pre AS modal_prefix, n AS modal_n,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, pre ASC) AS rk
  FROM counts),
totals AS (
  SELECT source, SUM(n) AS n_docs, COUNT(*) AS n_prefixes FROM counts GROUP BY source)
SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
  CAST(t.n_prefixes AS BIGINT) AS n_prefixes,
  top.modal_prefix, CAST(top.modal_n AS BIGINT) AS modal_n,
  CAST(top.modal_n * 1000000 // t.n_docs AS BIGINT) AS modal_share_ppm
FROM totals t JOIN top ON top.source = t.source AND top.rk = 1
ORDER BY t.source
"""


def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage census: near-dup pairs (Jaccard >= 0.8) whose two
    docs live in DIFFERENT source shards — exactly the pairs that turn a
    shard-level train/eval split into contamination. Rides the persisted
    LSH candidate + shingle-set stages (cache_key), so the marginal cost is
    one metadata join; the report aggregates to unordered shard pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    meta = docs.select("doc_id", "source")
    sa = meta.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    sb = meta.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .groupBy("source_x", "source_y")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_x", "source_y")
    )


_LEAKAGE_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shg FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents),
verified AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(sa.sh_set, sb.sh_set))
      / (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set))) AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE jaccard >= 0.8),
meta AS (SELECT doc_id, source FROM documents)
SELECT LEAST(ma.source, mb.source) AS source_x,
  GREATEST(ma.source, mb.source) AS source_y,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  MAX(round(v.jaccard, 6)) AS max_jaccard
FROM verified v
JOIN meta ma ON ma.doc_id = v.id_a
JOIN meta mb ON mb.doc_id = v.id_b
WHERE ma.source <> mb.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle for training-data delivery: every doc is
    assigned a pseudo-random position key md5('epoch7|' || doc_id) and a
    shard (key mod 8) — the same permutation on any cluster size, any run.
    The manifest is what a data loader consumes: per shard, its doc count,
    share of the corpus, an order-insensitive id checksum, and the key
    range. At 100 TB the write is repartitionByRange on the key (narrow
    rows, near-uniform by construction); no global sort ever runs."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("epoch7|"), F.col("doc_id").cast("string"))).alias("k"),
    ).withColumn(
        "shard",
        (F.conv(F.substring("k", 1, 8), 16, 10).cast("bigint") % 8).cast("bigint"),
    )
    # shard = key mod 8 ∈ 0..7 — the %-literal domain rule makes this
    # 8-row grain visible to the plan census (the share window below runs
    # over these 8 rows)
    agg = keyed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.min("k").alias("first_key"),
        F.max("k").alias("last_key"),
    )
    # total derives from the 8-row aggregate itself (window over shards),
    # so the corpus is scanned exactly once
    return (
        agg.withColumn("_total", F.sum("n_docs").over(Window.partitionBy()))
        .withColumn("share_ppm", F.expr("n_docs * 1000000 div _total").cast("bigint"))
        .select(
            "shard", "n_docs", "share_ppm", "id_checksum", "first_key", "last_key"
        )
        .orderBy("shard")
    )


_EPOCH_SHUFFLE_SQL = """
WITH keyed AS (
  SELECT doc_id, md5('epoch7|' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents),
sharded AS (
  SELECT doc_id, k, ('0x' || substr(k, 1, 8))::BIGINT % 8 AS shard FROM keyed),
tot AS (SELECT COUNT(*) AS n FROM sharded)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(*) * 1000000 // MAX(tot.n) AS BIGINT) AS share_ppm,
  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
  MIN(k) AS first_key, MAX(k) AS last_key
FROM sharded, tot
GROUP BY shard ORDER BY shard
"""


