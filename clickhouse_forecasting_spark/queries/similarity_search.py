# similarity search: brute-force / LSH / quantized top-k
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
from ..operators import ranking as RK
from .catalog_relational import _dsum, _t
from .dedup_ann_scale import _ann_scale_audit_sql
from .shared_fragments import _EMB_DIM, _planes_cte
# --------------------------------------------------------------------------
# similarity search (extension)
# --------------------------------------------------------------------------


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array analytics: per-label L2-norm statistics over the embedding
    column — JVM-side array fold, no Python. Per-row norms round to 1e-6
    before aggregating (in-row float folds may reassociate across engines);
    the cross-row sum is decimal-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (_dsum(F.col("nrm")) / F.count("*")).alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
        .orderBy("label")
    )


_NORM_STATS_SQL = """
WITH n AS (
  SELECT label,
    round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6) AS nrm
  FROM embeddings)
SELECT label, COUNT(*) AS n_vectors,
  CAST(SUM(CAST(nrm AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS avg_norm,
  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
FROM n GROUP BY label ORDER BY label
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 against the vec_id=0 vector, fully in-plan (the
    query row is broadcast; no driver collect). The top-k is
    TakeOrderedAndProject (each partition retains 10 rows); the rank
    column is a window over the already-10-row frame, never over the
    full corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(DD.cosine_similarity(F.col("embedding"), F.col("qvec")), 6).alias("cosine")
    )
    order = [F.col("cosine").desc(), F.col("vec_id")]
    top = RK.top_k(scored, order, 10)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


_TOPK_SQL = """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    round(list_sum(list_transform(generate_series(1, len(embedding)),
          i -> embedding[i]::DOUBLE * qvec[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(qvec, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM embeddings, q)
SELECT vec_id, cosine, rank FROM (
  SELECT vec_id, cosine, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank FROM scored)
WHERE rank <= 10
"""


def q_similarity_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors for each of the first 3 vectors (excluding self)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = SIM.pairwise_topk(emb.filter(F.col("vec_id") >= 3), queries)
    return out.withColumn("cosine", F.round("cosine", 6))


_PAIRWISE_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    list_sum(list_transform(generate_series(1, len(c.embedding)),
          i -> c.embedding[i]::DOUBLE * q.qvec[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(q.qvec, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
  FROM c, q)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""


# _EMB_DIM / _planes_cte moved to shared_fragments (r9): dedup_ann_scale
# needs _planes_cte too, and the import must not be circular. The fixture
# pin (tests/test_oracle_dtypes.py::test_embedding_dim_matches_fixture)
# reads it through the package namespace, unchanged.


def _lsh_probe_topk(
    spark: SparkSession, sf_dir: str, n_planes: int, n_probes: int
) -> DataFrame:
    """Shared body for the (multi-probe) LSH top-k queries: bucket filter
    via the seed-fixed signature, then the similarity_topk ranking recipe
    (cosine rounded to 6dp BEFORE ranking so the top-k set is
    deterministic across engines). Probe buckets are NOT provably bounded
    (a degenerate corpus can pile into one bucket), so the top-k is
    TakeOrderedAndProject, never a global window over the candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    planes = SIM.random_hyperplanes(len(query), n_planes)
    probes = SIM.multi_probe_buckets(query, planes, n_probes)
    bucketed = SIM.lsh_bucket_assignments(emb, len(query), n_planes)
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = (
        bucketed.filter(F.col("bucket").isin(probes))
        .crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            F.round(
                DD.cosine_similarity(F.col("embedding"), F.col("qvec")), 6
            ).alias("cosine"),
        )
    )
    order = [F.col("cosine").desc(), F.col("vec_id")]
    top = RK.top_k(scored, order, 10)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: LSH-bucketed top-k. The seed-fixed hyperplanes are
    deterministic, so the DuckDB twin recomputes the identical signatures
    from the same plane constants baked into the SQL (the minhash-family
    recipe) — a full hash gate, not rows-only."""
    return _lsh_probe_topk(spark, sf_dir, n_planes=6, n_probes=1)


def q_similarity_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: the query bucket plus the 3 lowest-|margin|
    bit-flip neighbors; hash-gated against a DuckDB twin that derives the
    probe set from the same plane constants."""
    return _lsh_probe_topk(spark, sf_dir, n_planes=6, n_probes=4)


_LSH_SIGS_SQL = """
dots AS (
  SELECT e.vec_id, p.i,
    list_sum(list_transform(generate_series(1, len(e.embedding)),
             j -> e.embedding[j]::DOUBLE * p.p[j])) AS d
  FROM embeddings e CROSS JOIN planes p),
sigs AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id)"""


def _lsh_topk_sql(n_planes: int, n_probes: int) -> str:
    return f"""
WITH {_planes_cte(n_planes)},
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
margins AS (
  SELECT p.i,
    list_sum(list_transform(generate_series(1, len(q.qvec)),
             j -> q.qvec[j]::DOUBLE * p.p[j])) AS m
  FROM planes p, q),
qsig AS (
  SELECT CAST(SUM(CASE WHEN m > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sig
  FROM margins),
flips AS (SELECT i FROM margins ORDER BY abs(m), i LIMIT {n_probes - 1}),
probes AS (
  SELECT sig AS b FROM qsig
  UNION ALL SELECT xor(sig, (1::BIGINT << i)) FROM qsig, flips),
{_LSH_SIGS_SQL.lstrip()},
scored AS (
  SELECT e.vec_id,
    round(list_sum(list_transform(generate_series(1, len(e.embedding)),
          j -> e.embedding[j]::DOUBLE * q.qvec[j]::DOUBLE))
    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(q.qvec, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id IN (SELECT vec_id FROM sigs JOIN probes ON bucket = b))
SELECT vec_id, cosine, rank FROM (
  SELECT vec_id, cosine, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 10
"""


_LSH_TOPK_SQL = _lsh_topk_sql(n_planes=6, n_probes=1)
_LSH_MULTIPROBE_SQL = _lsh_topk_sql(n_planes=6, n_probes=4)
_ANN_SCALE_CONTRACT_SQL = _ann_scale_audit_sql(2_000)


