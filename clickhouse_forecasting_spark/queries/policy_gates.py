# corpus policy gates: blocklists, dup spans, governance
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, completed): it
# imports its dependencies explicitly; __init__.py merges its names
# into the shared package namespace so the registry and cross-family
# consumers see them exactly as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dedup as DD
from ..functions import similarity as SIM
from ..functions import text as TX
from ..operators import ranking as RK
from .catalog_relational import _orders_daily, _t
from .dedup_ann_scale import (
    _BAND_LIST_SQL,
    _CC_SQL,
    _P,
    _SHINGLES_SQL,
    _SIG_MINS_SQL,
)
from .shared_fragments import _planes_cte
from .similarity_search import _LSH_SIGS_SQL
from .text_analysis import _TOKS_SQL
# --------------------------------------------------------------------------
# corpus policy gates: blocklist filtering, substring-level dup spans,
# temperature-based domain mixing, cross-shard distribution drift
# --------------------------------------------------------------------------

_BLOCKLIST = ("slow", "merge", "spam")


def q_blocklist_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style banned-term gate: per source shard, how many docs contain
    a blocklisted token, total hits, and the token budget kept if flagged
    docs are dropped (exact integer ppm). Per-row array filter only —
    embarrassingly parallel; the shuffle carries one 5-int row per doc.
    ('spam' is deliberately absent from the fixture vocab: zero-hit terms
    must cost nothing and report cleanly.)"""
    docs = _t(spark, sf_dir, "documents")
    t = TX.tokens(F.col("text"))
    hits = F.size(F.filter(t, lambda x: x.isin(*_BLOCKLIST)))
    per = docs.select(
        "source",
        F.size(t).alias("n_toks"),
        hits.alias("hits"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("hits") > 0).cast("int")).cast("bigint").alias("n_flagged"),
            F.sum("hits").cast("bigint").alias("blocked_hits"),
            F.sum("n_toks").cast("bigint").alias("tokens_total"),
            F.sum(F.when(F.col("hits") == 0, F.col("n_toks")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .withColumn(
            "kept_ppm",
            F.expr("tokens_kept * 1000000 div tokens_total").cast("bigint"),
        )
        .orderBy("source")
    )


_BLOCKLIST_SQL = f"""
WITH d AS (
  SELECT source, len({_TOKS_SQL}) AS n_toks,
    len(list_filter({_TOKS_SQL}, x -> x IN ('slow', 'merge', 'spam'))) AS hits
  FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
  CAST(SUM(hits) AS BIGINT) AS blocked_hits,
  CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
  CAST(SUM(CASE WHEN hits = 0 THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept,
  CAST(SUM(CASE WHEN hits = 0 THEN n_toks ELSE 0 END) * 1000000
       // SUM(n_toks) AS BIGINT) AS kept_ppm
FROM d GROUP BY source ORDER BY source
"""


def q_dup_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication spans — the signal doc-level MinHash
    misses (Lee et al., 'Deduplicating Training Data Makes LMs Better'):
    a doc can be globally unique yet contain a long pasted passage. Every
    positional 5-gram shingle is marked duplicated if an earlier doc
    (min doc_id) already contains it; gaps-and-islands over positions
    yields the longest contiguous duplicated token span per doc. Scale
    shape: one explode, a window-min on the 16-byte shingle hash, per-doc
    windows — one corpus scan, no pairwise comparison ever."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    idx = F.when(
        F.size("t") >= 5, F.sequence(F.lit(1), F.size("t") - 4)
    ).otherwise(F.array().cast("array<int>"))
    sh = toks.select(
        "doc_id",
        F.explode(idx).alias("p"),
        F.col("t"),
    ).select(
        "doc_id",
        "p",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("p"), F.lit(5)))).alias("sh"),
    )
    # ONE linear pipeline over the exploded shingles — no join-back, no
    # lineage reuse: first-seen via window-min on the shingle hash (one
    # shuffle), islands via a (doc, dup)-partitioned window (one shuffle),
    # then two partition-compatible aggregations. Exactly one corpus scan.
    w_sh = Window.partitionBy("sh")
    marked = sh.withColumn("dup", F.min("doc_id").over(w_sh) < F.col("doc_id"))
    w_run = Window.partitionBy("doc_id", "dup").orderBy("p")
    runs = marked.withColumn("grp", F.col("p") - F.row_number().over(w_run))
    per_doc = (
        runs.groupBy("doc_id", "dup", "grp")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("dup"), F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("dup_shingles"),
            F.coalesce(F.max(F.when(F.col("dup"), F.col("cnt"))), F.lit(0)).alias(
                "span_raw"
            ),
        )
        .withColumn(
            "max_dup_span",
            F.when(F.col("span_raw") > 0, F.col("span_raw") + 4)
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
    )
    # per_doc is one row per document — corpus-proportional, so the
    # top-20 is TakeOrderedAndProject, rank window over 20 rows only
    order = [
        F.col("max_dup_span").desc(), F.col("dup_shingles").desc(), F.col("doc_id")
    ]
    top = RK.top_k(per_doc, order, 20)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).select("doc_id", "n_shingles", "dup_shingles", "max_dup_span", "rank")


_DUP_SPAN_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
sh AS (
  SELECT doc_id, p, md5(array_to_string(t[p:p+4], ' ')) AS sh
  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(p)),
marked AS (
  SELECT doc_id, p,
    MIN(doc_id) OVER (PARTITION BY sh) < doc_id AS dup
  FROM sh),
runs AS (
  SELECT doc_id, p, dup,
    p - ROW_NUMBER() OVER (PARTITION BY doc_id, dup ORDER BY p) AS grp
  FROM marked),
spans AS (
  SELECT doc_id, MAX(cnt) + 4 AS max_dup_span FROM (
    SELECT doc_id, grp, COUNT(*) AS cnt FROM runs WHERE dup GROUP BY doc_id, grp)
  GROUP BY doc_id),
stats AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
    SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS dup_shingles
  FROM marked GROUP BY doc_id)
SELECT doc_id, n_shingles, dup_shingles, max_dup_span, rank FROM (
  SELECT s.doc_id, CAST(s.n_shingles AS BIGINT) AS n_shingles,
    CAST(s.dup_shingles AS BIGINT) AS dup_shingles,
    CAST(COALESCE(sp.max_dup_span, 0) AS BIGINT) AS max_dup_span,
    ROW_NUMBER() OVER (ORDER BY COALESCE(sp.max_dup_span, 0) DESC,
                       s.dup_shingles DESC, s.doc_id) AS rank
  FROM stats s LEFT JOIN spans sp ON s.doc_id = sp.doc_id)
WHERE rank <= 20
"""


def q_domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (alpha = 0.5, the multilingual
    upsampling rule): per-source weight c^alpha / sum(c^alpha) and the
    per-doc sample factor it implies. Sqrt weights are rounded to the
    1e-6 grid and summed as DECIMAL so the normalizer is order-independent
    and bit-identical cross-engine. One corpus scan into a 20-row
    aggregate; everything after is driver-free window math."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    w = per.withColumn(
        "w_raw",
        F.round(F.sqrt(F.col("n_docs").cast("double")), 6).cast("decimal(38,6)"),
    )
    tot = w.withColumn(
        "w_sum", F.sum("w_raw").over(Window.partitionBy())
    ).withColumn("n_tot", F.sum("n_docs").over(Window.partitionBy()))
    weight = F.round(
        F.col("w_raw").cast("double") / F.col("w_sum").cast("double"), 6
    )
    return tot.select(
        "source",
        "n_docs",
        weight.alias("weight"),
        F.round(
            weight * F.col("n_tot").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("sample_factor"),
    ).orderBy("source")


_TEMPERATURE_MIX_SQL = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
    CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)), 6) AS DECIMAL(38,6)) AS w_raw
  FROM per),
t AS (
  SELECT source, n_docs, w_raw,
    SUM(w_raw) OVER () AS w_sum,
    CAST(SUM(n_docs) OVER () AS BIGINT) AS n_tot
  FROM w)
SELECT source, n_docs,
  ROUND(CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE), 6) AS weight,
  ROUND(ROUND(CAST(w_raw AS DOUBLE) / CAST(w_sum AS DOUBLE), 6)
        * CAST(n_tot AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS sample_factor
FROM t ORDER BY source
"""


def q_shard_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of token distributions between every
    source-shard pair — the drift/eval report that tells a data recipe
    which shards are redundant and which add coverage. Distributions are
    per-shard aggregates (vocab-sized, tiny at any SF), so the pairwise
    stage joins pre-aggregated frames, never raw docs; JS terms are
    rounded to 1e-12 and summed as DECIMAL for cross-engine exactness."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    # vocab-x-shards rows: checkpoint so the pairwise stage's four aliases
    # derive from the tiny aggregate, not four corpus re-scans
    dist = (
        tok.groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = dist.groupBy("source").agg(F.sum("c").alias("n"))
    d = dist.join(tot, "source").select(
        "source",
        "tok",
        (F.col("c").cast("double") / F.col("n").cast("double")).alias("p"),
    )
    srcs = tot.select("source")
    # shard domain is bounded (20 here, O(100s) in any corpus) — broadcast
    # the inequality pair join so it plans BNLJ, never a cartesian shuffle
    pairs = srcs.select(F.col("source").alias("src_a")).join(
        F.broadcast(srcs.select(F.col("source").alias("src_b"))),
        F.col("src_a") < F.col("src_b"),
    )
    pa = pairs.join(
        d.select(F.col("source").alias("src_a"), "tok", F.col("p").alias("pa")),
        ["src_a"],
    )
    pb = pairs.join(
        d.select(F.col("source").alias("src_b"), "tok", F.col("p").alias("pb")),
        ["src_b"],
    )
    merged = (
        pa.join(pb, ["src_a", "src_b", "tok"], "full_outer")
        .withColumn("pa", F.coalesce("pa", F.lit(0.0)))
        .withColumn("pb", F.coalesce("pb", F.lit(0.0)))
    )
    term = 0.5 * F.when(
        F.col("pa") > 0,
        F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb"))),
    ).otherwise(F.lit(0.0)) + 0.5 * F.when(
        F.col("pb") > 0,
        F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb"))),
    ).otherwise(F.lit(0.0))
    return (
        merged.groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens_union"),
            F.round(
                F.sum(F.round(term, 12).cast("decimal(38,12)")).cast("double"), 6
            ).alias("js_div"),
        )
        .orderBy("src_a", "src_b")
    )


_JS_DIVERGENCE_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents),
dist AS (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
tot AS (SELECT source, SUM(c) AS n FROM dist GROUP BY source),
d AS (
  SELECT dist.source, tok,
    CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p
  FROM dist JOIN tot ON dist.source = tot.source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM tot a JOIN tot b ON a.source < b.source),
merged AS (
  SELECT p.src_a, p.src_b, v.tok,
    COALESCE(da.p, 0.0) AS pa, COALESCE(db.p, 0.0) AS pb
  FROM pairs p
  CROSS JOIN (SELECT DISTINCT tok FROM dist) v
  LEFT JOIN d da ON da.source = p.src_a AND da.tok = v.tok
  LEFT JOIN d db ON db.source = p.src_b AND db.tok = v.tok
  WHERE COALESCE(da.p, 0.0) > 0 OR COALESCE(db.p, 0.0) > 0),
terms AS (
  SELECT src_a, src_b,
    0.5 * CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END
    + 0.5 * CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END
      AS term
  FROM merged)
SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_tokens_union,
  ROUND(CAST(SUM(CAST(ROUND(term, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS js_div
FROM terms GROUP BY src_a, src_b ORDER BY src_a, src_b
"""


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round of tokenizer training: weighted character-pair
    counts over the corpus. The classic two-phase trick makes this viable
    at 100 TB — one corpus pass folds into the word-frequency table
    (vocab ≪ corpus), then pair counting explodes only the tiny vocab
    table, never the corpus. Output: top-20 merge candidates with
    type/token statistics, the table a BPE trainer's first iteration
    would commit."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    idx = F.when(
        F.length("w") >= 2, F.sequence(F.lit(1), F.length("w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = wf.select("w", "cnt", F.explode(idx).alias("p")).select(
        "w", "cnt", F.col("w").substr(F.col("p"), F.lit(2)).alias("pair")
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("cnt").cast("bigint").alias("weighted_count"),
        F.countDistinct("w").cast("bigint").alias("n_word_types"),
    )
    # distinct character pairs grow with the vocab — top-k via
    # TakeOrderedAndProject, rank window over the 20-row result only
    order = [F.col("weighted_count").desc(), F.col("pair")]
    top = RK.top_k(agg, order, 20)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).select("pair", "weighted_count", "n_word_types", "rank")


_BPE_MERGE_SQL = f"""
WITH wf AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents) GROUP BY w),
pairs AS (
  SELECT w, cnt, substr(w, p, 2) AS pair
  FROM wf, UNNEST(generate_series(1, length(w) - 1)) AS u(p)),
agg AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS weighted_count,
    CAST(COUNT(DISTINCT w) AS BIGINT) AS n_word_types
  FROM pairs GROUP BY pair)
SELECT pair, weighted_count, n_word_types, rank FROM (
  SELECT pair, weighted_count, n_word_types,
    ROW_NUMBER() OVER (ORDER BY weighted_count DESC, pair) AS rank FROM agg)
WHERE rank <= 20
"""


_PCA_DIMS = 16
_PCA_ITERS = 8


def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance via 8 unrolled
    power-iteration rounds — the deterministic PCA primitive (whitening /
    outlier axes / spectral screening) without MLlib's RNG-seeded SVD.
    One corpus pass builds exact decimal power sums for the leading
    16x16 covariance block (the stats_moments pattern over array
    columns); every later round is driver-free math on a checkpointed
    256-row matrix. Matvec terms and norms are rounded to fixed decimal
    grids each round, so both engines walk the identical float
    trajectory. Loadings are sign-normalized on dim 0."""
    d, iters = _PCA_DIMS, _PCA_ITERS
    em = _t(spark, sf_dir, "embeddings")
    base = em.select(
        *[F.col("embedding")[i].cast("double").alias(f"x{i}") for i in range(d)]
    )
    aggs = [F.count("*").alias("n")]
    for i in range(d):
        aggs.append(
            F.sum(F.col(f"x{i}").cast("decimal(38,10)")).cast("double").alias(f"s{i}")
        )
    for i in range(d):
        for j in range(i, d):
            aggs.append(
                F.sum((F.col(f"x{i}") * F.col(f"x{j}")).cast("decimal(38,10)"))
                .cast("double")
                .alias(f"p{i}_{j}")
            )
    sums = base.agg(*aggs).localCheckpoint(eager=True)  # 1 row
    cells = []
    for i in range(d):
        for j in range(d):
            a, b = min(i, j), max(i, j)
            c = F.round(
                F.col(f"p{a}_{b}") / F.col("n")
                - (F.col(f"s{i}") / F.col("n")) * (F.col(f"s{j}") / F.col("n")),
                9,
            )
            cells.append(
                F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"), c.alias("c"))
            )
    cov = (
        sums.select(F.explode(F.array(*cells)).alias("e"))
        .select("e.i", "e.j", "e.c")
        .localCheckpoint(eager=True)
    )
    v = spark.createDataFrame([(j, 0.25) for j in range(d)], "j int, v double")
    nrm = None
    for _ in range(iters):
        # one eager job per round: checkpoint u (16 rows); nrm and v are
        # lazy one-stage derivations of it, so no subtree is ever computed
        # twice and the lineage stays flat across rounds
        u = (
            cov.join(v, "j")
            .groupBy("i")
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("c") * F.col("v"), 12).cast("decimal(38,12)")
                    ).cast("double"),
                    9,
                ).alias("u")
            )
            .localCheckpoint(eager=True)
        )
        nrm = u.agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(F.col("u") * F.col("u"), 12).cast("decimal(38,12)")
                    ).cast("double")
                ),
                9,
            ).alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"), F.round(F.col("u") / F.col("nrm"), 9).alias("v")
        )
    sign = v.filter(F.col("j") == 0).select(
        F.when(F.col("v") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("sgn")
    )
    return (
        v.crossJoin(F.broadcast(sign))
        .crossJoin(F.broadcast(nrm))
        .select(
            F.col("j").alias("dim"),
            F.round(F.col("v") * F.col("sgn"), 6).alias("loading"),
            F.round(F.col("nrm"), 6).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


def _pca_power_sql() -> str:
    """Unrolled power-iteration twin of q_embedding_pca_power: identical
    decimal power sums, identical per-round rounding grids."""
    d, iters = _PCA_DIMS, _PCA_ITERS
    dim_cols = ", ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(d)
    )
    sum_cols = ["COUNT(*) AS n"] + [
        f"CAST(SUM(CAST(x{i} AS DECIMAL(38,10))) AS DOUBLE) AS s{i}" for i in range(d)
    ] + [
        f"CAST(SUM(CAST(x{i} * x{j} AS DECIMAL(38,10))) AS DOUBLE) AS p{i}_{j}"
        for i in range(d) for j in range(i, d)
    ]
    cells = []
    for i in range(d):
        for j in range(d):
            a, b = min(i, j), max(i, j)
            cells.append(
                f"SELECT {i} AS i, {j} AS j, "
                f"ROUND(p{a}_{b} / n - (s{i} / n) * (s{j} / n), 9) AS c FROM sums"
            )
    stages = []
    for k in range(1, iters + 1):
        prev = f"v{k - 1}"
        stages.append(f"""
u{k} AS MATERIALIZED (
  SELECT i, ROUND(CAST(SUM(CAST(ROUND(c * v, 12) AS DECIMAL(38,12)))
                  AS DOUBLE), 9) AS u
  FROM cov JOIN {prev} ON cov.j = {prev}.j GROUP BY i),
n{k} AS MATERIALIZED (
  SELECT ROUND(sqrt(CAST(SUM(CAST(ROUND(u * u, 12) AS DECIMAL(38,12)))
                    AS DOUBLE)), 9) AS nrm FROM u{k}),
v{k} AS MATERIALIZED (
  SELECT i AS j, ROUND(u / nrm, 9) AS v FROM u{k}, n{k})""")
    v0_rows = ", ".join(f"({j}, CAST(0.25 AS DOUBLE))" for j in range(d))
    return f"""
WITH base AS (SELECT {dim_cols} FROM embeddings),
sums AS MATERIALIZED (SELECT {", ".join(sum_cols)} FROM base),
cov AS MATERIALIZED ({" UNION ALL ".join(cells)}),
v0 AS (SELECT * FROM (VALUES {v0_rows}) t(j, v)),
{",".join(stages)},
sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sgn
        FROM v{iters} WHERE j = 0)
SELECT v{iters}.j AS dim, ROUND(v * sgn, 6) AS loading,
  ROUND(nrm, 6) AS eigenvalue
FROM v{iters}, sgn, n{iters} ORDER BY dim
"""


_PCA_POWER_SQL = _pca_power_sql()


def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a dataset ships: treat (event_type, day) as
    the quasi-identifier and flag cells whose distinct-user count is
    below k=5 — the re-identification surface k-anonymity bounds. Per
    event type: cell counts, risky cells, the minimum cell population,
    and the ppm share of events sitting in risky cells (exact integer
    math). One scan, two partial-aggregating shuffles, both on bounded
    keys (types x days)."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    return (
        cells.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum(F.when(F.col("n_users") < 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_risky_cells"),
            F.min("n_users").cast("bigint").alias("min_cell_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("n_users") < 5, F.col("n_events")).otherwise(0))
            .cast("bigint")
            .alias("risky_events"),
        )
        .withColumn(
            "risky_ppm",
            F.expr("risky_events * 1000000 div n_events").cast("bigint"),
        )
        .orderBy("event_type")
    )


_K_ANON_SQL = """
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_cells,
  CAST(MIN(n_users) AS BIGINT) AS min_cell_users,
  CAST(SUM(n_events) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END) AS BIGINT)
    AS risky_events,
  CAST(SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END) * 1000000
       // SUM(n_events) AS BIGINT) AS risky_ppm
FROM cells GROUP BY event_type ORDER BY event_type
"""


def q_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit across heterogeneous time columns: each
    fact table reports its row count and high-water mark; staleness is
    measured in days behind the fleet-wide maximum (a deterministic
    'now'). The shape that matters at scale: per-table aggregates are
    parquet-statistics-answerable scans (min/max/count), unioned into a
    3-row report — no cross-table join of raw rows ever happens."""
    o = _t(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("table_name"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.max(F.to_date("o_orderdate")).alias("high_water"),
    )
    li = _t(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem").alias("table_name"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.max(F.to_date("l_shipdate")).alias("high_water"),
    )
    ev = _t(spark, sf_dir, "events").agg(
        F.lit("events").alias("table_name"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.max(F.to_date("ts")).alias("high_water"),
    )
    rep = o.unionByName(li).unionByName(ev)
    w = Window.partitionBy()
    return (
        rep.withColumn("fleet_max", F.max("high_water").over(w))
        .select(
            "table_name",
            "n_rows",
            "high_water",
            F.datediff("fleet_max", "high_water").cast("bigint").alias(
                "staleness_days"
            ),
        )
        .orderBy("table_name")
    )


_FRESHNESS_SQL = """
WITH rep AS (
  SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(MAX(o_orderdate) AS DATE) AS high_water FROM orders
  UNION ALL
  SELECT 'lineitem', CAST(COUNT(*) AS BIGINT), CAST(MAX(l_shipdate) AS DATE)
  FROM lineitem
  UNION ALL
  SELECT 'events', CAST(COUNT(*) AS BIGINT), CAST(MAX(ts) AS DATE) FROM events)
SELECT table_name, n_rows, high_water,
  CAST(date_diff('day', high_water, MAX(high_water) OVER ()) AS BIGINT)
    AS staleness_days
FROM rep ORDER BY table_name
"""


def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every purchase's value is split
    across the user's clicks in the preceding 7 days with half-life
    weights 0.5^(age_days/7), normalized per purchase. Unlike first-touch
    (one window pass), multi-touch needs the (purchase, click) pair list —
    built as a per-user range join (equi-join on user_id + bounded time
    predicate), never a cross join. Daily report: attributed value by
    click day, exact-decimal summed. Weights are rounded to 1e-9 before
    the per-purchase normalizer so shares are identical cross-engine."""
    ev = _t(spark, sf_dir, "events")
    week_us = 7 * 24 * 3600 * 1_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
        F.col("value").alias("p_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").alias("c_us"),
        F.to_date(F.timestamp_micros(F.col("c_us"))).alias("click_day"),
    )
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_us") <= F.col("p_us"))
        & (F.col("c_us") > F.col("p_us") - F.lit(week_us)),
    ).withColumn(
        "w",
        F.round(
            F.pow(
                F.lit(0.5),
                (F.col("p_us") - F.col("c_us")).cast("double")
                / F.lit(float(week_us)),
            ),
            9,
        ),
    )
    w_norm = Window.partitionBy("purchase_id")
    shared = pairs.withColumn(
        "share",
        F.col("w")
        / F.sum(F.col("w").cast("decimal(38,12)")).over(w_norm).cast("double"),
    )
    return (
        shared.groupBy("click_day")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.countDistinct("purchase_id").cast("bigint").alias("n_purchases"),
            F.round(
                F.sum(
                    F.round(F.col("p_value") * F.col("share"), 9).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("attributed_value"),
        )
        .orderBy("click_day")
    )


_TIME_DECAY_SQL = """
WITH purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id,
    epoch_us(ts) AS p_us, value AS p_value
  FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id AS c_user, epoch_us(ts) AS c_us, CAST(ts AS DATE) AS click_day
  FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT purchase_id, p_value, click_day,
    ROUND(pow(0.5, CAST(p_us - c_us AS DOUBLE) / 604800000000.0), 9) AS w
  FROM purchases JOIN clicks
    ON p_user = c_user AND c_us <= p_us AND c_us > p_us - 604800000000),
shared AS (
  SELECT click_day, purchase_id, p_value,
    w / CAST(SUM(CAST(w AS DECIMAL(38,12))) OVER (PARTITION BY purchase_id)
             AS DOUBLE) AS share
  FROM pairs)
SELECT click_day, CAST(COUNT(*) AS BIGINT) AS n_touches,
  CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
  ROUND(CAST(SUM(CAST(ROUND(p_value * share, 9) AS DECIMAL(38,10))) AS DOUBLE),
        6) AS attributed_value
FROM shared GROUP BY click_day ORDER BY click_day
"""


def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the nightly-ingest shape: a new batch (odd
    doc_ids) is admitted against a frozen index (even doc_ids) WITHOUT
    ever re-deduping the index against itself. The banded-signature and
    shingle-set stages are the same persisted family stages every other
    dedup query reads (one corpus pass per run); the candidate join is
    band-key equi with parity filters on each side, so its cost is
    O(batch x collisions), independent of index self-pairs. Output: one
    admission row per batch doc with its verified index duplicates."""
    docs = _t(spark, sf_dir, "documents")
    banded = DD.banded_signatures(docs, cache_key=sf_dir)
    idx = banded.filter(F.col("doc_id") % 2 == 0)
    new = banded.filter(F.col("doc_id") % 2 == 1)
    cand = (
        new.alias("n")
        .join(idx.alias("i"), F.col("n.band") == F.col("i.band"))
        .select(
            F.col("n.doc_id").alias("batch_id"),
            F.col("i.doc_id").alias("index_id"),
        )
        .distinct()
    )
    sets = DD.shingle_sets(docs, cache_key=sf_dir)
    sa = sets.select(F.col("doc_id").alias("batch_id"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("index_id"), F.col("sh_set").alias("sh_b"))
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    verified = (
        cand.join(sa, "batch_id")
        .join(sb, "index_id")
        .withColumn(
            "jaccard",
            F.round(
                common / (F.size("sh_a") + F.size("sh_b") - common), 6
            ),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    dup_stats = verified.groupBy("batch_id").agg(
        F.count("*").cast("bigint").alias("n_index_dups"),
        F.min("index_id").cast("bigint").alias("first_dup_index_id"),
        F.max("jaccard").alias("max_jaccard"),
    )
    batch_docs = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("batch_id")
    )
    return (
        batch_docs.join(dup_stats, "batch_id", "left")
        .select(
            "batch_id",
            F.coalesce("n_index_dups", F.lit(0)).cast("bigint").alias("n_index_dups"),
            F.col("first_dup_index_id"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_index_dups", F.lit(0)) == 0).alias("admitted"),
        )
        .orderBy("batch_id")
    )


_INCR_DEDUP_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shg FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig),
cand AS (
  SELECT DISTINCT n.doc_id AS batch_id, i.doc_id AS index_id
  FROM banded n JOIN banded i ON n.band = i.band
  WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0),
sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents),
verified AS (
  SELECT c.batch_id, c.index_id,
    round(len(list_intersect(sa.sh_set, sb.sh_set))
      / (len(sa.sh_set) + len(sb.sh_set)
         - len(list_intersect(sa.sh_set, sb.sh_set))), 6) AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.batch_id
  JOIN sets sb ON sb.doc_id = c.index_id),
agg AS (
  SELECT batch_id, COUNT(*) AS n_index_dups,
    MIN(index_id) AS first_dup_index_id, MAX(jaccard) AS max_jaccard
  FROM verified WHERE jaccard >= 0.8 GROUP BY batch_id)
SELECT d.doc_id AS batch_id,
  CAST(COALESCE(a.n_index_dups, 0) AS BIGINT) AS n_index_dups,
  CAST(a.first_dup_index_id AS BIGINT) AS first_dup_index_id,
  COALESCE(a.max_jaccard, 0.0) AS max_jaccard,
  COALESCE(a.n_index_dups, 0) = 0 AS admitted
FROM documents d LEFT JOIN agg a ON d.doc_id = a.batch_id
WHERE d.doc_id % 2 = 1 ORDER BY batch_id
"""


def q_label_knn_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-sample screening: each vector's nearest in-bucket
    neighbor (hyperplane LSH, 6 seed-fixed planes) votes on its label;
    per label the report counts vectors, evaluable vectors (bucket
    neighbors exist), nearest-neighbor agreements, and the agreement ppm.
    The kNN graph is bucket-local by construction — cosine never runs
    across buckets, so cost scales with occupancy (sized by n_planes),
    not corpus². Ranking uses 6dp-rounded cosines with an id tie-break,
    identical in the baked-plane DuckDB twin."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    pairs = SIM.hyperplane_near_dup_pairs(emb, dim, threshold=-1.0, n_planes=6)
    # r11 (guide §1.3): symmetrize via ONE explode instead of a union of
    # two selects — the union form derived the bucketed-pair pipeline
    # twice (everything downstream of the persisted family stages)
    directed = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"),
                        F.col("cosine"),
                    ),
                    F.struct(
                        F.col("id_b").alias("src"),
                        F.col("id_a").alias("dst"),
                        F.col("cosine"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst", "e.cosine")
        .withColumn("cos_r", F.round("cosine", 6))
    )
    w_nn = Window.partitionBy("src").orderBy(F.col("cos_r").desc(), F.col("dst"))
    nn = directed.withColumn("rn", F.row_number().over(w_nn)).filter("rn = 1")
    lab = emb.select("vec_id", "label")
    nn_lab = nn.join(
        lab.select(F.col("vec_id").alias("dst"), F.col("label").alias("nn_label")),
        "dst",
    ).select(F.col("src").alias("vec_id"), "nn_label")
    per_vec = lab.join(nn_lab, "vec_id", "left")
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("nn_label").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_evaluated"),
            F.sum(F.when(F.col("nn_label") == F.col("label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_agree"),
        )
        .withColumn(
            "agree_ppm",
            F.expr(
                "CASE WHEN n_evaluated > 0"
                " THEN n_agree * 1000000 div n_evaluated ELSE NULL END"
            ).cast("bigint"),
        )
        .orderBy("label")
    )


_KNN_AGREE_SQL = f"""
WITH {_planes_cte(6)},
{_LSH_SIGS_SQL.lstrip()},
e2 AS (
  SELECT s.vec_id, s.bucket, e.embedding, e.label
  FROM sigs s JOIN embeddings e USING (vec_id)),
p AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, b.label AS nn_label,
    round(list_sum(list_transform(generate_series(1, len(a.embedding)),
             i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
      6) AS cos_r
  FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
nn AS (
  SELECT src, nn_label FROM (
    SELECT src, nn_label,
      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_r DESC, dst) AS rn
    FROM p) WHERE rn = 1)
SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN nn.nn_label IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_evaluated,
  CAST(SUM(CASE WHEN nn.nn_label = e.label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_agree,
  CAST(CASE WHEN SUM(CASE WHEN nn.nn_label IS NOT NULL THEN 1 ELSE 0 END) > 0
       THEN SUM(CASE WHEN nn.nn_label = e.label THEN 1 ELSE 0 END) * 1000000
            // SUM(CASE WHEN nn.nn_label IS NOT NULL THEN 1 ELSE 0 END)
       ELSE NULL END AS BIGINT) AS agree_ppm
FROM embeddings e LEFT JOIN nn ON e.vec_id = nn.src
GROUP BY e.label ORDER BY e.label
"""


def q_window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-parity windowFunnel: per user, the deepest
    view -> click -> purchase chain whose THREE events all fit inside a
    24h window anchored at the view (the reference engine's signature
    funnel aggregate, absent from Spark). Single-scan plan: instead of
    per-level self-joins (which re-read the fact once per level), the
    chain state propagates through TWO event-time RANGE windows over the
    user partition — each click carries its latest qualifying view
    (v_best), each purchase checks the max v_best among its prior-24h
    clicks against its own anchor bound. Exact: a valid chain exists iff
    max(v_best) >= t3 - 24h (proof in the window bounds: t1 ∈
    [t2-24h, t2), t2 ∈ (t3-24h, t3), t3 <= t1+24h). Output: user count
    per achieved level (0-3), levels summing to the full user base."""
    day_us = 24 * 3600 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w24 = Window.partitionBy("user_id").orderBy("us").rangeBetween(-day_us, -1)
    chain = (
        ev.withColumn(
            "v_best",
            F.max(
                F.when(F.col("event_type") == "view", F.col("us"))
            ).over(w24),
        )
        .withColumn(
            "click_anchor",
            F.when(
                (F.col("event_type") == "click") & F.col("v_best").isNotNull(),
                F.col("v_best"),
            ),
        )
        .withColumn("best_click_anchor", F.max("click_anchor").over(w24))
    )
    per_user = chain.groupBy("user_id").agg(
        F.greatest(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("best_click_anchor") >= F.col("us") - day_us),
                    3,
                ).otherwise(0)
            ),
            F.max(F.when(F.col("click_anchor").isNotNull(), 2).otherwise(0)),
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)),
        ).alias("level")
    )
    return (
        per_user.groupBy("level")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("level")
    )


_WINDOW_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (SELECT user_id AS u, us AS t1 FROM ev WHERE event_type = 'view'),
c AS (SELECT user_id AS u, us AS t2 FROM ev WHERE event_type = 'click'),
p AS (SELECT user_id AS u, us AS t3 FROM ev WHERE event_type = 'purchase'),
l2 AS (
  SELECT v.u, t1, t2 FROM v JOIN c ON v.u = c.u
  WHERE t2 > t1 AND t2 <= t1 + 86400000000),
l3 AS (
  SELECT l2.u FROM l2 JOIN p ON l2.u = p.u
  WHERE t3 > t2 AND t3 <= t1 + 86400000000),
per_user AS (
  SELECT users.user_id,
    GREATEST(
      CASE WHEN users.user_id IN (SELECT u FROM l3) THEN 3 ELSE 0 END,
      CASE WHEN users.user_id IN (SELECT u FROM l2) THEN 2 ELSE 0 END,
      CASE WHEN users.user_id IN (SELECT u FROM v) THEN 1 ELSE 0 END) AS level
  FROM (SELECT DISTINCT user_id FROM ev) users)
SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user GROUP BY level ORDER BY level
"""


def q_retention_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-parity retention(): per user a vector of gate flags —
    active in week 1 (the anchor), AND-ed with weeks 2/3/4 — aggregated
    to the classic retention curve (denominator = anchor cohort, the CH
    semantics where later flags only count if the first fired). One scan
    folds to per-(user, week) activity; flags are a conditional-MAX
    pivot per user; the curve is one tiny aggregate. Weeks are fixed
    7-day buckets from the global min day (deterministic anchor)."""
    ev = _t(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("d"))
    t0 = ev.agg(F.min("d").alias("d0"))
    wk = ev.crossJoin(F.broadcast(t0)).select(
        "user_id", (F.datediff("d", "d0") / 7).cast("int").alias("week")
    )
    flags = wk.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("week") == w, 1).otherwise(0)).alias(f"w{w}")
            for w in range(4)
        ]
    )
    return flags.agg(
        F.sum("w0").cast("bigint").alias("cohort"),
        F.sum(F.col("w0") * F.col("w1")).cast("bigint").alias("kept_w1"),
        F.sum(F.col("w0") * F.col("w2")).cast("bigint").alias("kept_w2"),
        F.sum(F.col("w0") * F.col("w3")).cast("bigint").alias("kept_w3"),
    ).select(
        "cohort",
        "kept_w1",
        "kept_w2",
        "kept_w3",
        F.expr("kept_w1 * 1000000 div cohort").cast("bigint").alias("w1_ppm"),
        F.expr("kept_w2 * 1000000 div cohort").cast("bigint").alias("w2_ppm"),
        F.expr("kept_w3 * 1000000 div cohort").cast("bigint").alias("w3_ppm"),
    )


_RETENTION_FLAGS_SQL = """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
t0 AS (SELECT MIN(d) AS d0 FROM d),
wk AS (
  SELECT user_id, CAST(date_diff('day', d0, d) / 7 AS INTEGER) AS week
  FROM d, t0),
flags AS (
  SELECT user_id,
    MAX(CASE WHEN week = 0 THEN 1 ELSE 0 END) AS w0,
    MAX(CASE WHEN week = 1 THEN 1 ELSE 0 END) AS w1,
    MAX(CASE WHEN week = 2 THEN 1 ELSE 0 END) AS w2,
    MAX(CASE WHEN week = 3 THEN 1 ELSE 0 END) AS w3
  FROM wk GROUP BY user_id)
SELECT CAST(SUM(w0) AS BIGINT) AS cohort,
  CAST(SUM(w0 * w1) AS BIGINT) AS kept_w1,
  CAST(SUM(w0 * w2) AS BIGINT) AS kept_w2,
  CAST(SUM(w0 * w3) AS BIGINT) AS kept_w3,
  CAST(SUM(w0 * w1) * 1000000 // SUM(w0) AS BIGINT) AS w1_ppm,
  CAST(SUM(w0 * w2) * 1000000 // SUM(w0) AS BIGINT) AS w2_ppm,
  CAST(SUM(w0 * w3) * 1000000 // SUM(w0) AS BIGINT) AS w3_ppm
FROM flags
"""


def q_adaptive_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-parity histogram(N): equal-FREQUENCY bins over order
    totals (8 bins) — adaptive boundaries that track the data where
    equal-width bins waste resolution on empty tails. Bin edges come
    from ntile over the cents-exact total (total-order tie-break on the
    key), then per-bin min/max/count/exact-decimal sum. The ntile is
    the DISTRIBUTED one (operators/ranking.global_ntile: range-
    partitioned sort + broadcast partition offsets + SQL-exact tile
    arithmetic — no single-partition window); two shuffles total, the
    ranged sort and the bin rollup."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    binned = RK.global_ntile(
        o.select(cents.alias("cents"), F.col("o_orderkey")),
        ["cents", "o_orderkey"], 8, col_name="bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("bin")
    )


_ADAPTIVE_HIST_SQL = """
WITH b AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
    NTILE(8) OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                   o_orderkey) AS bin
  FROM orders)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(MIN(cents) AS BIGINT) AS lo_cents,
  CAST(MAX(cents) AS BIGINT) AS hi_cents,
  CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM b GROUP BY bin ORDER BY bin
"""


def q_dedup_canonical_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical selection per near-dup cluster: keep the LONGEST member
    (ties -> min id) instead of the min-id rule — the policy that ships
    the most complete copy of each duplicated document. Components ride
    the family's persisted LSH stages; the canonical election is one
    window over the (id, component, n_chars) frame — metadata-sized, the
    text never travels. Per-cluster report includes the chars the policy
    saves (total minus canonical)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    cc = DD.connected_components(pairs)
    m = cc.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    w_comp = Window.partitionBy("component")
    w_rank = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("id")
    )
    return (
        m.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_members", F.count("*").over(w_comp))
        .withColumn("total_chars", F.sum("n_chars").over(w_comp))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("id").alias("canonical_id"),
            F.col("n_chars").cast("bigint").alias("canonical_chars"),
            (F.col("total_chars") - F.col("n_chars"))
            .cast("bigint")
            .alias("chars_saved"),
        )
        .orderBy("component")
    )


_CANONICAL_SQL = f"""
WITH cc AS ({_CC_SQL}),
m AS (
  SELECT cc.component, cc.id, d.n_chars
  FROM cc JOIN documents d ON cc.id = d.doc_id),
sel AS (
  SELECT component, id, n_chars,
    ROW_NUMBER() OVER (PARTITION BY component
                       ORDER BY n_chars DESC, id) AS rn,
    COUNT(*) OVER (PARTITION BY component) AS n_members,
    SUM(n_chars) OVER (PARTITION BY component) AS total_chars
  FROM m)
SELECT component, CAST(n_members AS BIGINT) AS n_members,
  id AS canonical_id, CAST(n_chars AS BIGINT) AS canonical_chars,
  CAST(total_chars - n_chars AS BIGINT) AS chars_saved
FROM sel WHERE rn = 1 ORDER BY component
"""


def q_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand — the forecasting-family
    member for sparse series, where Holt/Prophet smear zeros into bias.
    Demand = daily count of a deterministic 1%-ish order slice
    (o_orderkey % 101 = 0) on the gap-filled axis; smoothed demand size z
    and inter-demand interval p (alpha = 0.2) update ONLY on demand
    days; forecast = z / p. Inherently sequential -> applyInPandas (one
    task per series, O(1) state, the forecaster's partitioning); the
    oracle replays the identical IEEE recurrence in a recursive CTE, so
    no rounding is needed anywhere."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    axis = span.select(
        F.explode(F.sequence("d0", "d1")).alias("date")
    )
    demand = (
        o.filter(F.col("o_orderkey") % 101 == 0)
        .groupBy(F.to_date("o_orderdate").alias("date"))
        .agg(F.count("*").alias("y"))
    )
    daily = (
        axis.join(demand, "date", "left")
        .select("date", F.coalesce("y", F.lit(0)).cast("double").alias("y"))
    )
    alpha = 0.2

    def _croston(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        out = {"date": [], "y": [], "z": [], "p": [], "forecast": []}
        z = p = None
        q = 0
        for i in range(len(pdf)):
            y = pdf["y"][i]
            q += 1
            if y > 0:
                if z is None:
                    z, p = y, float(q)
                else:
                    z = z + alpha * (y - z)
                    p = p + alpha * (q - p)
                q = 0
            if z is not None:
                out["date"].append(pdf["date"][i])
                out["y"].append(y)
                out["z"].append(z)
                out["p"].append(p)
                out["forecast"].append(z / p)
        return pd.DataFrame(out)

    return (
        daily.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: _croston(pdf),
            "date date, y double, z double, p double, forecast double",
        )
        .orderBy("date")
    )


_CROSTON_SQL = """
WITH RECURSIVE axis AS (
  SELECT UNNEST(generate_series(MIN(CAST(o_orderdate AS DATE)),
                                MAX(CAST(o_orderdate AS DATE)),
                                INTERVAL 1 DAY))::DATE AS date
  FROM orders),
demand AS (
  SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS y
  FROM orders WHERE o_orderkey % 101 = 0 GROUP BY 1),
daily AS (
  SELECT a.date, CAST(COALESCE(d.y, 0) AS DOUBLE) AS y,
    ROW_NUMBER() OVER (ORDER BY a.date) AS rn
  FROM axis a LEFT JOIN demand d ON a.date = d.date),
first_demand AS (SELECT MIN(rn) AS rn0 FROM daily WHERE y > 0),
cr(date, y, rn, z, p, q) AS (
  SELECT d.date, d.y, d.rn, d.y, CAST(d.rn AS DOUBLE), 0
  FROM daily d, first_demand f WHERE d.rn = f.rn0
  UNION ALL
  SELECT n.date, n.y, n.rn,
    CASE WHEN n.y > 0 THEN c.z + 0.2 * (n.y - c.z) ELSE c.z END,
    CASE WHEN n.y > 0 THEN c.p + 0.2 * ((c.q + 1) - c.p) ELSE c.p END,
    CASE WHEN n.y > 0 THEN 0 ELSE c.q + 1 END
  FROM cr c JOIN daily n ON n.rn = c.rn + 1)
SELECT date, y, z, p, z / p AS forecast FROM cr ORDER BY date
"""


def q_naive_baseline_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) baseline scorecard for the two daily series
    the forecaster ships — MAE / RMSE / sMAPE per metric, the floor any
    real model must beat (and the MASE denominator). Errors run in exact
    integers (cents / counts) summed as DECIMAL, divided once in double;
    sMAPE terms are 1e-12-rounded doubles summed as DECIMAL. One
    aggregation over the lag-joined daily frame; the lag is a window on
    the tiny daily series, not the fact table."""
    daily = _orders_daily(spark, sf_dir).select(
        "date",
        F.col("order_count").cast("bigint").alias("cnt"),
        F.round(F.col("total_revenue") * 100).cast("bigint").alias("rev_cents"),
    )
    w = Window.orderBy("date")
    lagged = (
        daily.select(
            "date",
            "cnt",
            "rev_cents",
            F.lag("cnt", 7).over(w).alias("cnt_hat"),
            F.lag("rev_cents", 7).over(w).alias("rev_hat"),
        )
        .filter(F.col("cnt_hat").isNotNull())
        # daily-series-sized; both metric branches read it, so one
        # checkpoint saves a second scan of the orders fact
        .localCheckpoint(eager=True)
    )

    def metric(y, yhat, name, scale):
        err = F.abs(y - yhat)
        smape_term = F.round(
            F.lit(2.0)
            * err.cast("double")
            / (F.abs(y) + F.abs(yhat)).cast("double"),
            12,
        )
        return lagged.agg(
            F.lit(name).alias("metric"),
            F.count("*").cast("bigint").alias("n_days"),
            F.round(
                F.sum(err.cast("decimal(38,0)")).cast("double")
                / F.count("*")
                / scale,
                6,
            ).alias("mae"),
            F.round(
                F.sqrt(
                    F.sum((err * err).cast("decimal(38,0)")).cast("double")
                    / F.count("*")
                )
                / scale,
                6,
            ).alias("rmse"),
            F.round(
                F.sum(smape_term.cast("decimal(38,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("smape"),
        )

    return metric(F.col("cnt"), F.col("cnt_hat"), "order_count", 1.0).unionByName(
        metric(F.col("rev_cents"), F.col("rev_hat"), "total_revenue", 100.0)
    ).orderBy("metric")


_NAIVE_SCORE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS date, COUNT(*) AS cnt,
    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
          * 100) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1),
lagged AS (
  SELECT date, cnt, rev_cents,
    LAG(cnt, 7) OVER (ORDER BY date) AS cnt_hat,
    LAG(rev_cents, 7) OVER (ORDER BY date) AS rev_hat
  FROM daily),
f AS (SELECT * FROM lagged WHERE cnt_hat IS NOT NULL)
SELECT 'order_count' AS metric, CAST(COUNT(*) AS BIGINT) AS n_days,
  ROUND(CAST(SUM(CAST(ABS(cnt - cnt_hat) AS DECIMAL(38,0))) AS DOUBLE)
        / COUNT(*) / 1.0, 6) AS mae,
  ROUND(sqrt(CAST(SUM(CAST(ABS(cnt - cnt_hat) * ABS(cnt - cnt_hat)
                       AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)) / 1.0, 6)
    AS rmse,
  ROUND(CAST(SUM(CAST(ROUND(2.0 * CAST(ABS(cnt - cnt_hat) AS DOUBLE)
        / CAST(ABS(cnt) + ABS(cnt_hat) AS DOUBLE), 12) AS DECIMAL(38,12)))
        AS DOUBLE) / COUNT(*), 6) AS smape
FROM f
UNION ALL
SELECT 'total_revenue', CAST(COUNT(*) AS BIGINT),
  ROUND(CAST(SUM(CAST(ABS(rev_cents - rev_hat) AS DECIMAL(38,0))) AS DOUBLE)
        / COUNT(*) / 100.0, 6),
  ROUND(sqrt(CAST(SUM(CAST(ABS(rev_cents - rev_hat) * ABS(rev_cents - rev_hat)
                       AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)) / 100.0, 6),
  ROUND(CAST(SUM(CAST(ROUND(2.0 * CAST(ABS(rev_cents - rev_hat) AS DOUBLE)
        / CAST(ABS(rev_cents) + ABS(rev_hat) AS DOUBLE), 12) AS DECIMAL(38,12)))
        AS DOUBLE) / COUNT(*), 6)
FROM f
ORDER BY metric
"""

# Multivariate OLS via normal equations, solved in closed form (Cramer's
# rule on the 3x3 Gram matrix). The algebra below is ONE shared formula
# text evaluated by F.expr on the Spark side and spliced verbatim into the
# DuckDB twin — identical expression trees guarantee identical IEEE
# doubles, so no tolerance is needed. Note a33 = sw because the weekend
# dummy is idempotent (w² = w).
_OLS_DET = "(n*(stt*sw - stw*stw) - st*(st*sw - stw*sw) + sw*(st*stw - stt*sw))"
_OLS_DA = "(sy*(stt*sw - stw*stw) - st*(sty*sw - stw*swy) + sw*(sty*stw - stt*swy))"
_OLS_DB = "(n*(sty*sw - stw*swy) - sy*(st*sw - stw*sw) + sw*(st*swy - sty*sw))"
_OLS_DC = "(n*(stt*swy - sty*stw) - st*(st*swy - sty*sw) + sy*(st*stw - stt*sw))"
_OLS_OUT = (
    f"ROUND({_OLS_DA} / {_OLS_DET}, 6) AS intercept, "
    f"ROUND({_OLS_DB} / {_OLS_DET}, 6) AS slope_per_day, "
    f"ROUND({_OLS_DC} / {_OLS_DET}, 6) AS weekend_effect, "
    f"ROUND(1.0 - (syy - ({_OLS_DA} / {_OLS_DET} * sy"
    f" + {_OLS_DB} / {_OLS_DET} * sty"
    f" + {_OLS_DC} / {_OLS_DET} * swy))"
    f" / (syy - sy * sy / n), 6) AS r2"
)


def _split_select_list(s: str) -> list[str]:
    """Split a SELECT list on top-level commas (parens-aware)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def q_multivar_ols_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression in one aggregation pass: daily revenue ~
    intercept + trend·t + weekend dummy, solved in closed form from exact
    power sums (the normal-equations / Cramer path — no iterative
    optimizer, no MLlib RNG). The only corpus-sized work is the daily
    rollup; the Gram matrix is 9 decimal-exact sums over the tiny series
    and the solve is scalar algebra shared verbatim with the oracle.
    This is the scale shape for ANY fixed-feature linear model: map-side
    partial sums, one row out."""
    daily = _orders_daily(spark, sf_dir).select(
        "date", F.col("total_revenue").alias("y")
    )
    w0 = Window.partitionBy()
    base = daily.withColumn("d0", F.min("date").over(w0)).select(
        F.datediff("date", "d0").cast("double").alias("t"),
        F.dayofweek("date").isin(1, 7).cast("int").cast("double").alias("w"),
        "y",
    )
    t, w, y = F.col("t"), F.col("w"), F.col("y")
    sums = base.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(t.cast("decimal(38,6)")).cast("double").alias("st"),
        F.sum(w.cast("decimal(38,6)")).cast("double").alias("sw"),
        F.sum((t * t).cast("decimal(38,6)")).cast("double").alias("stt"),
        F.sum((t * w).cast("decimal(38,6)")).cast("double").alias("stw"),
        F.sum(F.round(y, 6).cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum(F.round(t * y, 6).cast("decimal(38,6)")).cast("double").alias("sty"),
        F.sum(F.round(w * y, 6).cast("decimal(38,6)")).cast("double").alias("swy"),
        F.sum(F.round(y * y, 4).cast("decimal(38,4)")).cast("double").alias("syy"),
    )
    return sums.selectExpr(*[e.strip() for e in _split_select_list(_OLS_OUT)])


_MULTIVAR_OLS_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS date,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS y
  FROM orders GROUP BY 1),
base AS (
  SELECT CAST(date_diff('day', MIN(date) OVER (), date) AS DOUBLE) AS t,
    CAST(CASE WHEN dayofweek(date) IN (0, 6) THEN 1 ELSE 0 END AS DOUBLE) AS w,
    y
  FROM daily),
sums AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(t AS DECIMAL(38,6))) AS DOUBLE) AS st,
    CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS sw,
    CAST(SUM(CAST(t * t AS DECIMAL(38,6))) AS DOUBLE) AS stt,
    CAST(SUM(CAST(t * w AS DECIMAL(38,6))) AS DOUBLE) AS stw,
    CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(ROUND(t * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sty,
    CAST(SUM(CAST(ROUND(w * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS swy,
    CAST(SUM(CAST(ROUND(y * y, 4) AS DECIMAL(38,4))) AS DOUBLE) AS syy
  FROM base)
SELECT {_OLS_OUT} FROM sums
"""


def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass weighted sampling without replacement (Efraimidis-
    Spirakis): each doc draws key = u^(1/w) from a deterministic
    md5-derived uniform u and weight w = n_chars; the global top-k by key
    IS a weighted sample — the standard distributed primitive (inclusion
    probability proportional to weight, no second pass, no rejection
    loop). Top-k is a TakeOrdered over row-local keys: at 100 TB each
    partition ships k candidates, never the corpus. Keys are rounded to
    1e-12 with an id tie-break for cross-engine total order."""
    docs = _t(spark, sf_dir, "documents")
    u = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("es|"), F.col("doc_id").cast("string"))), 1, 15),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).cast("double")
        + 0.5
    ) / 1000000.0
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double")), 12
    )
    keyed = docs.select("doc_id", "source", "n_chars", key.alias("key"))
    order = [F.col("key").desc(), F.col("doc_id")]
    top = RK.top_k(keyed, order, 20)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).select("doc_id", "source", "n_chars", "key", "rank")


_ES_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
    ROUND(pow(
      (CAST(('0x' || substr(md5('es|' || CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) % 1000000 + 0.5) / 1000000.0,
      1.0 / CAST(n_chars AS DOUBLE)), 12) AS key
  FROM documents)
SELECT doc_id, source, n_chars, key, rank FROM (
  SELECT doc_id, source, n_chars, key,
    ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rank
  FROM keyed)
WHERE rank <= 20
"""


