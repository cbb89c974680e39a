# dedup family + LSH/ANN fan-out scale audits
# Part of the clickhouse_forecasting_spark.queries package. Since r9
# this is a REAL importable module (r8 VERDICT task #5, completed): it
# imports its dependencies explicitly; __init__.py merges its names
# into the shared package namespace so the registry and cross-family
# consumers see them exactly as before.

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup as DD
from ..functions import lm as LM
from ..functions import similarity as SIM
from ..functions import text as TX
from ..functions.text import STOPWORDS
from .catalog_relational import _t
from .shared_fragments import _planes_cte
from .text_analysis import _NORM_SQL, _TOKS_SQL, _lang_case
# --------------------------------------------------------------------------
# dedup (extension)
# --------------------------------------------------------------------------


def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fp = TX.fingerprint(F.col("text"))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count("*") - F.countDistinct(fp)).alias("n_dupes"),
    )


_DEDUP_EXACT_SQL = (
    f"SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5({_NORM_SQL})) AS n_unique, "
    f"COUNT(*) - COUNT(DISTINCT md5({_NORM_SQL})) AS n_dupes FROM documents"
)

_SHINGLES_SQL = (
    f"list_distinct(list_transform(generate_series(1, greatest(length({_NORM_SQL}) - 4, 1)), "
    f"i -> substr({_NORM_SQL}, i, 5)))"
)


def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_signatures(docs)


_MINHASH_SIG_SQL = f"""
WITH s AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
SELECT doc_id,
  list_min(list_transform(sh, x -> md5('0' || x))) AS sig_0,
  list_min(list_transform(sh, x -> md5('1' || x))) AS sig_1,
  list_min(list_transform(sh, x -> md5('2' || x))) AS sig_2,
  list_min(list_transform(sh, x -> md5('3' || x))) AS sig_3
FROM s
"""


def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # cache_key shares the persisted banded-signature stage with the
    # other three dedup-family queries: one corpus pass per run, not four
    return DD.minhash_lsh_candidates(docs, cache_key=sf_dir)


_P = DD.MINHASH_PRIME
_MH = DD.minhash_params(16)

_SIG_MINS_SQL = ", ".join(
    f"MIN(({a} * x + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(_MH)
)
_BAND_LIST_SQL = ", ".join(
    "concat_ws(',', '" + str(b) + "', " + ", ".join(f"h{b * 4 + r}" for r in range(4)) + ")"
    for b in range(4)
)

_MINHASH_LSH_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return DD.simhash_signatures(docs)


_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id, list_transform({_TOKS_SQL},
             tok -> ('0x' || substr(md5(tok), 1, 8))::BIGINT) AS hashes
           FROM documents)
SELECT doc_id,
  list_sum(list_transform(generate_series(0, 31), i ->
    CASE WHEN list_sum(list_transform(hashes, h ->
      CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
    THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
FROM t
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dup pairs: LSH candidates + exact-Jaccard verify at
    0.8 — the scale pipeline (all-pairs shingle join never runs; the
    verification join only sees candidate docs). Jaccard rounded to 1e-6
    for cross-engine float safety."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    return pairs.withColumn("jaccard", F.round("jaccard", 6))


_JACCARD_SQL = f"""
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
  JOIN sets sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM verified WHERE jaccard >= 0.8
"""


def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-inside-doc detection: containment |A∩B|/|A| catches a short doc
    quoted verbatim inside a long one, which Jaccard misses (the union is
    dominated by the long doc). Shares the persisted banded-signature and
    shingle-set stages with the rest of the dedup family (cache_key) — the
    verification formula is the only new work, so the marginal cost is one
    O(candidate-pairs) join. Both directions emitted as exact integer ppm."""
    docs = _t(spark, sf_dir, "documents")
    return DD.containment_pairs(docs, cache_key=sf_dir)


_CONTAIN_SQL = f"""
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
    len(list_intersect(sa.sh_set, sb.sh_set)) AS common,
    len(sa.sh_set) AS n_a, len(sb.sh_set) AS n_b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b)
SELECT id_a, id_b,
  CAST(common * 1000000 // n_a AS BIGINT) AS cont_a_in_b_ppm,
  CAST(common * 1000000 // n_b AS BIGINT) AS cont_b_in_a_ppm,
  CASE WHEN common * 1000000 // n_a >= common * 1000000 // n_b
       THEN 'a_in_b' ELSE 'b_in_a' END AS contained
FROM verified
WHERE GREATEST(common * 1000000 // n_a, common * 1000000 // n_b) >= 600000
"""


# --------------------------------------------------------------------------
# dedup at fan-out scale (r5 VERDICT #3): the forecast_scale treatment
# applied to the LSH family. A synthetic corpus with a PLANTED duplicate
# structure — per 10-doc group: ids ..0-..7 unique, ..8 a near-dup of ..0
# (one of 30 tokens mutated, Jaccard ≈ 0.9), ..9 an exact dup of ..0 — is
# generated DETERMINISTICALLY from md5 in both engines, so the end-to-end
# pipeline (shingle → minhash → band join → verify) has exact expected
# recoveries: every exact pair MUST be found (identical signature ⇒ all
# bands collide), near pairs follow the banding collision law, and cross-
# group pairs are hash accidents (≈0). dedup_scale_audit runs 60k docs
# (rows-only; tests/test_dedup_scale.py pins linear candidate growth and
# bounded band occupancy across 15k→30k→60k); dedup_scale_contract_audit
# hash-gates the identical dataflow at 2k docs against a DuckDB twin that
# replays the whole pipeline on the same generated corpus.
# --------------------------------------------------------------------------

_DEDUP_SCALE_TOKENS = 30


def synth_dedup_corpus(spark: SparkSession, n_docs: int) -> DataFrame:
    """(doc_id, text) synthetic corpus with the planted-dup structure above.
    Pure expressions over spark.range — no data files, fully deterministic,
    reproducible bit-for-bit by the DuckDB twin (_synth_corpus_sql)."""
    d = F.col("id")
    src = F.when((d % 10) >= 8, d - (d % 10)).otherwise(d).cast("string")
    toks = [
        F.substring(F.md5(F.concat(src, F.lit(f"_{j}"))), 1, 8)
        for j in range(_DEDUP_SCALE_TOKENS - 1)
    ]
    last_seed = F.when(
        (d % 10) == 8, F.concat(src, F.lit("_mut"))
    ).otherwise(F.concat(src, F.lit(f"_{_DEDUP_SCALE_TOKENS - 1}")))
    toks.append(F.substring(F.md5(last_seed), 1, 8))
    return spark.range(n_docs).select(
        d.alias("doc_id"), F.concat_ws(" ", *toks).alias("text")
    )


def dedup_scale_audit_frame(spark: SparkSession, n_docs: int) -> DataFrame:
    """One summary row over the full LSH dedup pipeline on the synthetic
    corpus: corpus size, candidate volume, verified pairs at 0.8, exact
    pairs (must equal n_docs/10 — identical docs always collide), intra-
    vs cross-group split, and the max band-bucket occupancy (the quantity
    the in-plan guard bounds). All counts are exact integers."""
    docs = synth_dedup_corpus(spark, n_docs)
    key = ("dedup_scale", n_docs)
    cand = DD.minhash_lsh_candidates(docs, cache_key=key)
    verified = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=key)
    banded = DD.banded_signatures(docs, cache_key=key)
    n_cand = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    occ = (
        banded.groupBy("band").agg(F.count("*").alias("c"))
        .agg(F.max("c").cast("bigint").alias("max_band_occupancy"))
    )
    v = verified.agg(
        F.count("*").cast("bigint").alias("n_verified_08"),
        F.sum((F.col("jaccard") == 1.0).cast("int")).cast("bigint").alias("n_exact_pairs"),
        F.sum(
            (F.expr("id_a div 10") == F.expr("id_b div 10")).cast("int")
        ).cast("bigint").alias("n_intra_group"),
        F.sum(
            (F.expr("id_a div 10") != F.expr("id_b div 10")).cast("int")
        ).cast("bigint").alias("n_cross_group"),
    )
    return (
        v.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(occ))
        .select(
            F.lit(n_docs).cast("bigint").alias("n_docs"),
            "n_candidates", "n_verified_08", "n_exact_pairs",
            "n_intra_group", "n_cross_group", "max_band_occupancy",
        )
    )


def q_dedup_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60k-doc end-to-end LSH scale proof (rows-only; the hash-gated twin
    is dedup_scale_contract_audit at 2k — identical dataflow, identical
    generator). Scaling pins live in tests/test_dedup_scale.py."""
    return dedup_scale_audit_frame(spark, 60_000)


def q_dedup_scale_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_scale_audit_frame(spark, 2_000)


def _synth_corpus_sql(n_docs: int) -> str:
    toks = ",\n    ".join(
        f"substr(md5(concat(CAST(src AS VARCHAR), '_{j}')), 1, 8)"
        for j in range(_DEDUP_SCALE_TOKENS - 1)
    )
    last = (
        "substr(md5(CASE WHEN doc_id % 10 = 8 THEN concat(CAST(src AS VARCHAR), '_mut') "
        f"ELSE concat(CAST(src AS VARCHAR), '_{_DEDUP_SCALE_TOKENS - 1}') END), 1, 8)"
    )
    return f"""ids AS (
  SELECT i AS doc_id,
    CASE WHEN i % 10 >= 8 THEN i - (i % 10) ELSE i END AS src
  FROM range({n_docs}) t(i)),
corpus AS (
  SELECT doc_id, concat_ws(' ',
    {toks},
    {last}) AS text
  FROM ids)"""


_SHINGLES_CORPUS_SQL = _SHINGLES_SQL  # generic over any relation with `text`

_DEDUP_SCALE_AUDIT_SQL = f"""
WITH {_synth_corpus_sql(2_000)},
s AS (SELECT doc_id, unnest({_SHINGLES_CORPUS_SQL}) AS shg FROM corpus),
h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (
  SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band
  FROM sig),
occ AS (SELECT MAX(c) AS mx FROM (SELECT COUNT(*) AS c FROM banded GROUP BY band)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
sets AS (SELECT doc_id, {_SHINGLES_CORPUS_SQL} AS sh_set FROM corpus),
verified AS (
  SELECT c.id_a, c.id_b,
    len(list_intersect(sa.sh_set, sb.sh_set))
      / (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set))) AS jaccard
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b),
v08 AS (SELECT * FROM verified WHERE jaccard >= 0.8)
SELECT CAST(2000 AS BIGINT) AS n_docs,
  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
  CAST(COUNT(*) AS BIGINT) AS n_verified_08,
  CAST(COALESCE(SUM(CASE WHEN jaccard = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact_pairs,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_intra_group,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 <> id_b // 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_group,
  CAST((SELECT mx FROM occ) AS BIGINT) AS max_band_occupancy
FROM v08
"""


# --------------------------------------------------------------------------
# ANN at fan-out scale (r5 VERDICT #5): the dedup_scale treatment applied
# to the similarity family. A synthetic embedding corpus with PLANTED
# neighbor structure — per 10-vector group: ids ..0-..7 independent
# md5-derived vectors (components on the 1e-3 grid in [-1, 1]); ..9 an
# EXACT duplicate of ..0 (identical bits ⇒ identical sign-projection
# signature at ANY plane count — recovery must be total); ..8 a NEAR
# duplicate of ..0 (last coordinate shifted by an md5-derived delta in
# [-0.1, 0.1], cosine ≈ 0.999) whose bucket-collision rate follows the
# (1 − θ/π)^planes law. Plane count scales with the corpus
# (⌈log2 n⌉ + 3): expected random-bucket occupancy n/2^planes stays O(1),
# so candidate volume grows LINEARLY with n — the documented scale
# contract for sign-projection LSH (SCALING.md: "size n_planes to data
# volume"). ann_scale_audit runs 30k vectors (rows-only;
# tests/test_ann_scale.py pins exact-recovery totality, linear candidate
# growth and bounded occupancy across 7.5k→15k→30k);
# ann_scale_contract_audit hash-gates the identical dataflow at 2k
# vectors against a DuckDB twin that replays corpus generation,
# signatures, the bucket pair join and the cosine verify with the same
# sequential-sum float algebra.
# --------------------------------------------------------------------------

_ANN_SCALE_DIM = 8


def _ann_planes(n_vecs: int) -> int:
    import math

    return max(10, int(math.ceil(math.log2(n_vecs))) + 3)


def synth_embedding_corpus(spark: SparkSession, n_vecs: int) -> DataFrame:
    """(vec_id, embedding) deterministic synthetic corpus with the planted
    neighbor structure above. Pure expressions over spark.range — no data
    files; reproduced bit-for-bit by the DuckDB twin (_ann_corpus_sql):
    components are exact integer arithmetic divided by 1000.0, the near
    mutation is one IEEE add — identical doubles in both engines."""
    d = F.col("id")
    src = F.when((d % 10) >= 8, d - (d % 10)).otherwise(d).cast("string")

    def draw(seed_col, modulus: int, half: int):
        return (
            (
                F.conv(F.substring(F.md5(seed_col), 1, 15), 16, 10).cast("bigint")
                % modulus
                - half
            ).cast("double")
            / 1000.0
        )

    comps = [
        draw(F.concat(src, F.lit(f"_c{j}")), 2001, 1000)
        for j in range(_ANN_SCALE_DIM)
    ]
    delta = draw(F.concat(src, F.lit("_mut")), 201, 100)
    comps[-1] = F.when((d % 10) == 8, comps[-1] + delta).otherwise(comps[-1])
    return spark.range(n_vecs).select(
        d.alias("vec_id"), F.array(*comps).alias("embedding")
    )


def ann_scale_audit_frame(spark: SparkSession, n_vecs: int) -> DataFrame:
    """One summary row over the full hyperplane-LSH near-dup pipeline on
    the synthetic corpus: corpus size, plane count, bucket-pair candidate
    volume, verified pairs at cosine ≥ 0.95 (6dp-rounded BEFORE the
    filter, both engines), exact pairs (rounded cosine 1.0 — must equal
    n/10), intra- vs cross-group split, and the max bucket occupancy (the
    quantity the in-plan guard bounds). Each vector lands in exactly ONE
    bucket (single signature, no banding), so a pair collides at most
    once — no distinct pass. The bucketed frame is checkpointed: the
    occupancy probe and both join sides read one materialization."""
    n_planes = _ann_planes(n_vecs)
    emb = synth_embedding_corpus(spark, n_vecs)
    # per-vector norm BEFORE the checkpoint (identical fold to
    # cosine_similarity's — dot/(na·nb) is bit-identical; 1 fold per
    # candidate pair instead of 3 in the O(candidates) verify)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    bucketed = (
        SIM.lsh_bucket_assignments(emb, _ANN_SCALE_DIM, n_planes)
        .withColumn("__nrm", nrm)
        .localCheckpoint(eager=True)
    )
    occ = (
        bucketed.groupBy("bucket")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").cast("bigint").alias("max_bucket_occupancy"))
    )
    a = bucketed.select(
        "bucket", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"), F.col("__nrm").alias("__na"),
    )
    b = bucketed.select(
        "bucket", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"), F.col("__nrm").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("va"),
            F.col("vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("__na") * F.col("__nb")), 6).alias(
                "cosine"
            ),
        )
    )
    intra = F.expr("id_a div 10") == F.expr("id_b div 10")
    ra, rb = F.col("id_a") % 10, F.col("id_b") % 10
    # the planted structure: (g+0, g+9) exact; (g+0, g+8) and (g+8, g+9)
    # near (g+9 IS g+0, so both near pairs share the same mutated vector)
    planted_exact = intra & (ra == 0) & (rb == 9)
    planted_near = intra & (
        ((ra == 0) & (rb == 8)) | ((ra == 8) & (rb == 9))
    )
    summary = scored.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum((F.col("cosine") >= 0.95).cast("int")).cast("bigint").alias(
            "n_verified_095"
        ),
        F.sum((F.col("cosine") == 1.0).cast("int")).cast("bigint").alias(
            "n_exact_pairs"
        ),
        F.sum(planted_exact.cast("int")).cast("bigint").alias(
            "n_planted_exact_recovered"
        ),
        F.sum(planted_near.cast("int")).cast("bigint").alias(
            "n_planted_near_recovered"
        ),
        F.sum((~intra).cast("int")).cast("bigint").alias("n_cross_group"),
    )
    return summary.crossJoin(F.broadcast(occ)).select(
        F.lit(n_vecs).cast("bigint").alias("n_vecs"),
        F.lit(n_planes).cast("bigint").alias("n_planes"),
        "n_candidates",
        "n_verified_095",
        "n_exact_pairs",
        "n_planted_exact_recovered",
        "n_planted_near_recovered",
        "n_cross_group",
        "max_bucket_occupancy",
    )


def q_ann_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30k-vector end-to-end hyperplane-LSH scale proof (rows-only; the
    hash-gated twin is ann_scale_contract_audit at 2k — identical
    dataflow, identical generator). Scaling pins live in
    tests/test_ann_scale.py."""
    return ann_scale_audit_frame(spark, 30_000)


def q_ann_scale_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_scale_audit_frame(spark, 2_000)


def _ann_corpus_sql(n_vecs: int) -> str:
    comps = ",\n      ".join(
        f"(('0x' || substr(md5(concat(CAST(src AS VARCHAR), '_c{j}')), 1, 15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0"
        for j in range(_ANN_SCALE_DIM - 1)
    )
    last = (
        f"(('0x' || substr(md5(concat(CAST(src AS VARCHAR), '_c{_ANN_SCALE_DIM - 1}')), 1, 15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0"
        " + CASE WHEN vec_id % 10 = 8 THEN"
        " (('0x' || substr(md5(concat(CAST(src AS VARCHAR), '_mut')), 1, 15))::BIGINT % 201 - 100)::DOUBLE / 1000.0"
        " ELSE 0.0 END"
    )
    return f"""ids AS (
  SELECT i AS vec_id,
    CASE WHEN i % 10 >= 8 THEN i - (i % 10) ELSE i END AS src
  FROM range({n_vecs}) t(i)),
corpus AS (
  SELECT vec_id, [
      {comps},
      {last}]::DOUBLE[] AS embedding
  FROM ids)"""


def _ann_scale_audit_sql(n_vecs: int) -> str:
    n_planes = _ann_planes(n_vecs)
    return f"""
WITH {_ann_corpus_sql(n_vecs)},
{_planes_cte(n_planes, dim=_ANN_SCALE_DIM)},
dots AS (
  SELECT e.vec_id, p.i,
    list_sum(list_transform(generate_series(1, {_ANN_SCALE_DIM}),
             j -> e.embedding[j] * p.p[j])) AS d
  FROM corpus e CROSS JOIN planes p),
sigs AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id),
occ AS (SELECT MAX(c) AS mx FROM (SELECT COUNT(*) AS c FROM sigs GROUP BY bucket)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
scored AS (
  SELECT p.id_a, p.id_b,
    round(list_sum(list_transform(generate_series(1, {_ANN_SCALE_DIM}),
          j -> ea.embedding[j] * eb.embedding[j]))
    / (sqrt(list_sum(list_transform(ea.embedding, x -> x * x)))
     * sqrt(list_sum(list_transform(eb.embedding, x -> x * x)))), 6) AS cosine
  FROM pairs p
  JOIN corpus ea ON ea.vec_id = p.id_a
  JOIN corpus eb ON eb.vec_id = p.id_b)
SELECT CAST({n_vecs} AS BIGINT) AS n_vecs,
  CAST({n_planes} AS BIGINT) AS n_planes,
  CAST(COUNT(*) AS BIGINT) AS n_candidates,
  CAST(COALESCE(SUM(CASE WHEN cosine >= 0.95 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified_095,
  CAST(COALESCE(SUM(CASE WHEN cosine = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact_pairs,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10
    AND id_a % 10 = 0 AND id_b % 10 = 9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_exact_recovered,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10
    AND ((id_a % 10 = 0 AND id_b % 10 = 8) OR (id_a % 10 = 8 AND id_b % 10 = 9))
    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_near_recovered,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 <> id_b // 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_group,
  CAST((SELECT mx FROM occ) AS BIGINT) AS max_bucket_occupancy
FROM scored
"""


# (_ANN_SCALE_CONTRACT_SQL is materialized after _planes_cte is defined,
# next to the other LSH oracle constants)


# --------------------------------------------------------------------------
# The balanced-cell contrast: the same planted corpus through an IVF-STYLE
# partitioner whose cell count scales with the corpus (m³ grid cells over
# three coordinates, m = ⌈(n/8)^⅓⌋ — the idealized learned-cell layout on
# a uniform corpus; the learned-centroid probe path is similarity_ivf_topk).
# Cells follow the data distribution, so occupancy stays O(1) and the pair
# join grows LINEARLY — the measured counterpart to the hyperplane audit's
# ~n^1.5 (uneven sign cells). Near/exact pairs differ only in the LAST
# coordinate, and the grid keys on the first three, so planted recovery is
# total BY CONSTRUCTION — this audit measures the candidate-volume law,
# the hyperplane audit measures the probabilistic-recovery law.
# --------------------------------------------------------------------------


def _grid_cells_axis(n_vecs: int) -> int:
    return max(2, int((n_vecs / 8.0) ** (1.0 / 3.0) + 0.5))


def ann_grid_scale_audit_frame(spark: SparkSession, n_vecs: int) -> DataFrame:
    """Same summary shape as ann_scale_audit_frame over the grid-cell
    partitioner: cell_j = least(floor((x_j + 1.0) · m / 2.0), m − 1) on
    coordinates 0..2 (identical double algebra in the DuckDB twin), cell
    id = ((c0·m) + c1)·m + c2."""
    m = _grid_cells_axis(n_vecs)
    emb = synth_embedding_corpus(spark, n_vecs)

    def cell(j: int):
        return F.least(
            F.floor(
                (F.col("embedding")[j] + F.lit(1.0)) * F.lit(float(m)) / F.lit(2.0)
            ),
            F.lit(m - 1),
        ).cast("bigint")

    # per-vector norm BEFORE the checkpoint (r12 — the same 1-fold-per-
    # pair treatment the hyperplane/ivf audits got in r11: identical
    # fold to cosine_similarity's, so dot/(na·nb) is bit-identical
    # while the O(candidates) verify pays 1 fold per pair instead of 3)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    bucketed = emb.select(
        "vec_id",
        "embedding",
        ((cell(0) * m + cell(1)) * m + cell(2)).alias("bucket"),
        nrm.alias("__nrm"),
    ).localCheckpoint(eager=True)
    occ = (
        bucketed.groupBy("bucket")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").cast("bigint").alias("max_bucket_occupancy"))
    )
    a = bucketed.select(
        "bucket", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"), F.col("__nrm").alias("__na"),
    )
    b = bucketed.select(
        "bucket", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"), F.col("__nrm").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("va"),
            F.col("vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("__na") * F.col("__nb")), 6).alias(
                "cosine"
            ),
        )
    )
    intra = F.expr("id_a div 10") == F.expr("id_b div 10")
    ra, rb = F.col("id_a") % 10, F.col("id_b") % 10
    planted_exact = intra & (ra == 0) & (rb == 9)
    planted_near = intra & (
        ((ra == 0) & (rb == 8)) | ((ra == 8) & (rb == 9))
    )
    summary = scored.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum((F.col("cosine") >= 0.95).cast("int")).cast("bigint").alias(
            "n_verified_095"
        ),
        F.sum((F.col("cosine") == 1.0).cast("int")).cast("bigint").alias(
            "n_exact_pairs"
        ),
        F.sum(planted_exact.cast("int")).cast("bigint").alias(
            "n_planted_exact_recovered"
        ),
        F.sum(planted_near.cast("int")).cast("bigint").alias(
            "n_planted_near_recovered"
        ),
        F.sum((~intra).cast("int")).cast("bigint").alias("n_cross_group"),
    )
    return summary.crossJoin(F.broadcast(occ)).select(
        F.lit(n_vecs).cast("bigint").alias("n_vecs"),
        F.lit(m).cast("bigint").alias("n_cells_axis"),
        "n_candidates",
        "n_verified_095",
        "n_exact_pairs",
        "n_planted_exact_recovered",
        "n_planted_near_recovered",
        "n_cross_group",
        "max_bucket_occupancy",
    )


def q_ann_grid_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30k-vector balanced-cell scale proof (rows-only; hash-gated twin is
    ann_grid_scale_contract_audit at 2k). The linear-growth counterpart to
    ann_scale_audit — pins in tests/test_ann_scale.py."""
    return ann_grid_scale_audit_frame(spark, 30_000)


def q_ann_grid_scale_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return ann_grid_scale_audit_frame(spark, 2_000)


def _ann_grid_scale_audit_sql(n_vecs: int) -> str:
    m = _grid_cells_axis(n_vecs)
    cells = " , ".join(
        f"LEAST(FLOOR((embedding[{j + 1}] + 1.0) * {float(m)} / 2.0), {m - 1})::BIGINT AS c{j}"
        for j in range(3)
    )
    return f"""
WITH {_ann_corpus_sql(n_vecs)},
bucketed AS (
  SELECT vec_id, embedding,
    ((c0 * {m}) + c1) * {m} + c2 AS bucket
  FROM (SELECT vec_id, embedding, {cells} FROM corpus)),
occ AS (SELECT MAX(c) AS mx FROM (SELECT COUNT(*) AS c FROM bucketed GROUP BY bucket)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
scored AS (
  SELECT p.id_a, p.id_b,
    round(list_sum(list_transform(generate_series(1, {_ANN_SCALE_DIM}),
          j -> ea.embedding[j] * eb.embedding[j]))
    / (sqrt(list_sum(list_transform(ea.embedding, x -> x * x)))
     * sqrt(list_sum(list_transform(eb.embedding, x -> x * x)))), 6) AS cosine
  FROM pairs p
  JOIN corpus ea ON ea.vec_id = p.id_a
  JOIN corpus eb ON eb.vec_id = p.id_b)
SELECT CAST({n_vecs} AS BIGINT) AS n_vecs,
  CAST({m} AS BIGINT) AS n_cells_axis,
  CAST(COUNT(*) AS BIGINT) AS n_candidates,
  CAST(COALESCE(SUM(CASE WHEN cosine >= 0.95 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified_095,
  CAST(COALESCE(SUM(CASE WHEN cosine = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact_pairs,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10
    AND id_a % 10 = 0 AND id_b % 10 = 9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_exact_recovered,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10
    AND ((id_a % 10 = 0 AND id_b % 10 = 8) OR (id_a % 10 = 8 AND id_b % 10 = 9))
    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_near_recovered,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 <> id_b // 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_group,
  CAST((SELECT mx FROM occ) AS BIGINT) AS max_bucket_occupancy
FROM scored
"""


_ANN_GRID_SCALE_CONTRACT_SQL = _ann_grid_scale_audit_sql(2_000)


# --------------------------------------------------------------------------
# The LEARNED-cell audit (r7): the same planted corpus through
# similarity.ivf_exact_cells — deterministic integer Lloyd-1 from the
# n_cells lowest-id seeds, n_cells ∝ n. Unlike the grid contrast (which
# keys on three raw coordinates and is only "learned" in the idealized
# uniform-corpus sense), these cells adapt to the data like production
# IVF/KMeans — and the whole train+assign pipeline is exact integer
# arithmetic, so it hash-gates against a full DuckDB replay. The measured
# law this pins: candidates grow ~linearly (≤ ~2.2×/doubling) with
# occupancy ~constant — the reason ivf_near_dup_pairs is the DEFAULT pair
# mining path and sign-LSH (measured ~n^1.5) is the index-free fallback.
# --------------------------------------------------------------------------


def _ivf_cells_for(n_vecs: int) -> int:
    return max(8, n_vecs // 125)


def ann_ivf_scale_audit_frame(spark: SparkSession, n_vecs: int) -> DataFrame:
    """Same summary shape as ann_scale_audit_frame over learned cells
    (similarity.ivf_exact_cells, k = max(8, n/125)): the checkpointed
    assignment feeds the occupancy probe and both join sides."""
    k = _ivf_cells_for(n_vecs)
    emb = synth_embedding_corpus(spark, n_vecs)
    assigned, _ = SIM.ivf_exact_cells(emb, n_cells=k, cache_key=("ann_ivf_scale", n_vecs))
    # per-vector norm BEFORE the checkpoint: the fold is identical to
    # cosine_similarity's, so dot/(na·nb) is bit-identical to the
    # inline form while the O(candidates) verify pays 1 fold per pair
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    bucketed = assigned.select(
        "vec_id", "embedding", F.col("cell").alias("bucket"),
        nrm.alias("__nrm"),
    ).localCheckpoint(eager=True)
    occ = (
        bucketed.groupBy("bucket")
        .agg(F.count("*").alias("c"))
        .agg(F.max("c").cast("bigint").alias("max_cell_occupancy"))
    )
    a = bucketed.select(
        "bucket", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"), F.col("__nrm").alias("__na"),
    )
    b = bucketed.select(
        "bucket", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"), F.col("__nrm").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("va"),
            F.col("vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("__na") * F.col("__nb")), 6).alias(
                "cosine"
            ),
        )
    )
    intra = F.expr("id_a div 10") == F.expr("id_b div 10")
    ra, rb = F.col("id_a") % 10, F.col("id_b") % 10
    planted_exact = intra & (ra == 0) & (rb == 9)
    planted_near = intra & (
        ((ra == 0) & (rb == 8)) | ((ra == 8) & (rb == 9))
    )
    summary = scored.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum((F.col("cosine") >= 0.95).cast("int")).cast("bigint").alias(
            "n_verified_095"
        ),
        F.sum((F.col("cosine") == 1.0).cast("int")).cast("bigint").alias(
            "n_exact_pairs"
        ),
        F.sum(planted_exact.cast("int")).cast("bigint").alias(
            "n_planted_exact_recovered"
        ),
        F.sum(planted_near.cast("int")).cast("bigint").alias(
            "n_planted_near_recovered"
        ),
        F.sum((~intra).cast("int")).cast("bigint").alias("n_cross_group"),
    )
    return summary.crossJoin(F.broadcast(occ)).select(
        F.lit(n_vecs).cast("bigint").alias("n_vecs"),
        F.lit(k).cast("bigint").alias("n_cells"),
        "n_candidates",
        "n_verified_095",
        "n_exact_pairs",
        "n_planted_exact_recovered",
        "n_planted_near_recovered",
        "n_cross_group",
        "max_cell_occupancy",
    )


def q_ann_ivf_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30k-vector learned-cell scale proof (rows-only at this size; the
    hash-gated twin is ann_ivf_scale_contract_audit at 2k — identical
    dataflow, identical generator). Growth pins in
    tests/test_ann_scale.py."""
    return ann_ivf_scale_audit_frame(spark, 30_000)


def q_ann_ivf_scale_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return ann_ivf_scale_audit_frame(spark, 2_000)


def _ivf_assign_sql(dim: int, k: int, n_assign: int = 1, rel: str = "icorpus") -> str:
    """CTE chain replaying similarity.ivf_exact_cells bit-for-bit:
    icorpus(vec_id, iv BIGINT[]) -> a2(vec_id, cell). Seeds are the k
    lowest-id vectors (cell index = id rank), assignment is exact
    integer squared-L2 argmin with ties to the lowest cell
    (ROW_NUMBER ORDER BY d, j == array_position-of-min), the Lloyd
    update is bigint sums with FLOOR(s/n) means (floor == Python //;
    the double quotient cannot straddle an integer: |s| ≤ 3e7 exact,
    gap to the nearest integer ≥ 1/n ≫ quotient ulp), empty cells keep
    their seed centroid (COALESCE). With n_assign > 1, a2 keeps the
    n_assign nearest cells per vector (rn ≤ k == the stable argsort
    top-k in similarity._assign_cells_arrow's n_assign>1 branch) — the
    multi-assignment recall knob; the Lloyd update always trains on
    the SINGLE nearest assignment."""
    return f"""seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, iv AS siv
  FROM (SELECT vec_id, iv FROM {rel} ORDER BY vec_id LIMIT {k})),
d1 AS (
  SELECT v.vec_id, s.j,
    list_sum(list_transform(generate_series(1, {dim}),
      i -> (v.iv[i] - s.siv[i]) * (v.iv[i] - s.siv[i]))) AS d
  FROM {rel} v CROSS JOIN seeds s),
a1 AS (
  SELECT vec_id, j AS c FROM (
    SELECT vec_id, j,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
    FROM d1) WHERE rn = 1),
sums AS (
  SELECT a1.c, t.p, SUM(v.iv[t.p]) AS s, COUNT(*) AS n
  FROM a1 JOIN {rel} v USING (vec_id)
  CROSS JOIN generate_series(1, {dim}) t(p)
  GROUP BY a1.c, t.p),
cents AS (
  SELECT s.j,
    list(CAST(FLOOR(COALESCE(m.s / CAST(m.n AS DOUBLE), s.siv[t.p]))
              AS BIGINT) ORDER BY t.p) AS civ
  FROM seeds s
  CROSS JOIN generate_series(1, {dim}) t(p)
  LEFT JOIN sums m ON m.c = s.j AND m.p = t.p
  GROUP BY s.j),
d2 AS (
  SELECT v.vec_id, c.j,
    list_sum(list_transform(generate_series(1, {dim}),
      i -> (v.iv[i] - c.civ[i]) * (v.iv[i] - c.civ[i]))) AS d
  FROM {rel} v CROSS JOIN cents c),
a2 AS (
  SELECT vec_id, j AS cell FROM (
    SELECT vec_id, j,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
    FROM d2) WHERE rn <= {int(n_assign)})"""


def _ann_ivf_scale_audit_sql(n_vecs: int) -> str:
    k = _ivf_cells_for(n_vecs)
    return f"""
WITH {_ann_corpus_sql(n_vecs)},
icorpus AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(x * 1000) AS BIGINT)) AS iv
  FROM corpus),
{_ivf_assign_sql(_ANN_SCALE_DIM, k)},
-- occupancy is REPORTED (max_cell_occupancy column), not asserted —
-- deliberately symmetric with the Spark side (ann_ivf_scale_audit_frame
-- also reports without an in-plan guard: the audit's JOB is to measure
-- occupancy, so a hot cell must surface as data, not as a failure)
occ AS (SELECT MAX(c) AS mx FROM (
  SELECT COUNT(*) AS c FROM a2 GROUP BY cell)),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id),
scored AS (
  SELECT p.id_a, p.id_b,
    round(list_sum(list_transform(generate_series(1, {_ANN_SCALE_DIM}),
          j -> ea.embedding[j] * eb.embedding[j]))
    / (sqrt(list_sum(list_transform(ea.embedding, x -> x * x)))
     * sqrt(list_sum(list_transform(eb.embedding, x -> x * x)))), 6) AS cosine
  FROM pairs p
  JOIN corpus ea ON ea.vec_id = p.id_a
  JOIN corpus eb ON eb.vec_id = p.id_b)
SELECT CAST({n_vecs} AS BIGINT) AS n_vecs,
  CAST({k} AS BIGINT) AS n_cells,
  CAST(COUNT(*) AS BIGINT) AS n_candidates,
  CAST(COALESCE(SUM(CASE WHEN cosine >= 0.95 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified_095,
  CAST(COALESCE(SUM(CASE WHEN cosine = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact_pairs,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10
    AND id_a % 10 = 0 AND id_b % 10 = 9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_exact_recovered,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 = id_b // 10
    AND ((id_a % 10 = 0 AND id_b % 10 = 8) OR (id_a % 10 = 8 AND id_b % 10 = 9))
    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_planted_near_recovered,
  CAST(COALESCE(SUM(CASE WHEN id_a // 10 <> id_b // 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_group,
  CAST((SELECT mx FROM occ) AS BIGINT) AS max_cell_occupancy
FROM scored
"""


_ANN_IVF_SCALE_CONTRACT_SQL = _ann_ivf_scale_audit_sql(2_000)


def q_ivf_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair mining over the embeddings table through LEARNED
    cells (similarity.ivf_near_dup_pairs) — the default 100 TB pair
    path, replacing the sampled brute-force spot audit
    (embedding_near_dup) and the sign-LSH fallback as the routed
    full-corpus miner: measured candidate growth is ~linear with
    n_cells ∝ n vs the hyperplane path's ~n^1.5
    (tests/test_ann_scale.py). The deterministic integer Lloyd trainer
    makes this row hash-gateable end-to-end (MLlib KMeans centroids
    depend on sampling/parallelism, so no SQL twin could replay them)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = SIM.ivf_near_dup_pairs(emb, n_cells=16, threshold=0.3, cache_key=sf_dir)
    return pairs.withColumn("cosine", F.round("cosine", 6))


def _ivf_near_dup_sql(n_assign: int, occ_bound: int = 10_000) -> str:
    dedup = "DISTINCT " if n_assign > 1 else ""
    return f"""
WITH icorpus AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS iv
  FROM embeddings),
{_ivf_assign_sql(64, 16, n_assign)},
occ_guard AS (
  -- mirrors the Spark side's in-plan assert_true on __cell_occ
  -- (similarity.ivf_near_dup_pairs, bound MAX_BUCKET_OCCUPANCY =
  -- 10000): on a degenerate hot cell BOTH engines fail loudly instead
  -- of one silently running its n² join
  SELECT CASE WHEN MAX(c) <= {int(occ_bound)} THEN 1
         ELSE CAST(error('IVF cell exceeds the {int(occ_bound)}-vector occupancy bound') AS INT)
         END AS ok
  FROM (SELECT COUNT(*) AS c FROM a2 GROUP BY cell)),
pairs AS (
  SELECT {dedup}a.vec_id AS id_a, b.vec_id AS id_b
  FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
  CROSS JOIN occ_guard g WHERE g.ok = 1),
scored AS (
  SELECT p.id_a, p.id_b,
    list_sum(list_transform(generate_series(1, 64),
          i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.id_a
  JOIN embeddings eb ON eb.vec_id = p.id_b)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM scored WHERE cosine >= 0.3
"""


_IVF_NEAR_DUP_SQL = _ivf_near_dup_sql(1)
_IVF_NEAR_DUP_P2_SQL = _ivf_near_dup_sql(2)


def q_ivf_near_dup_pairs_probe2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ivf_near_dup_pairs with multi-assignment n_assign=2 — the recall
    knob: each vector joins its two nearest cells, so near pairs that
    straddle one cell boundary still co-occur (planted-corpus near
    recall 0.965 → 1.0 in tests/test_ann_scale.py) at a measured 3.63×
    candidate cost (bounded by n_assign² = 4×). Hash-gated like the
    base row: the k-nearest pick is a repeated masked argmin ==
    ROW_NUMBER ORDER BY (d, j) ≤ 2."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = SIM.ivf_near_dup_pairs(
        emb, n_cells=16, threshold=0.3, n_assign=2, cache_key=sf_dir
    )
    return pairs.withColumn("cosine", F.round("cosine", 6))


def q_ann_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN admission against a FROZEN index — the embedding
    counterpart of dedup_incremental_batch: the IVF index trains on the
    base corpus only (vec_id % 5 != 0, deterministic integer Lloyd), an
    incoming batch (vec_id % 5 == 0) assigns to the trained cells
    without re-training (similarity.assign_to_cells — literal centroids,
    row-local), and each batch vector is verified ONLY against base
    vectors in its cell. Per batch vector: its cell, how many base
    near-dups it hit at cosine ≥ 0.3, the best match, and the admission
    verdict. The production property this pins: admission cost is
    O(batch × cell occupancy) — base-base pairs are never re-mined, the
    index is never touched. Fully hash-gated: training, assignment,
    and verification all replay in DuckDB (train rel = base via
    _ivf_assign_sql(rel=...), batch assignment against the cents CTE)."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    assigned_base, cents = SIM.ivf_exact_cells(base, n_cells=16, cache_key=("incr_base", sf_dir))
    # materialize the batch assignment ONCE (r12): it feeds BOTH the
    # in-cell verify join and the final per-vector join-back, and
    # assign_to_cells is a pandas-UDF pass over the batch — without the
    # checkpoint the Python assignment stage executes twice (no shared
    # exchange between the two consumers). |batch| = |corpus|/5 rows.
    assigned_batch = SIM.assign_to_cells(batch, cents).localCheckpoint(eager=True)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    b = assigned_base.select(
        "cell", F.col("vec_id").alias("base_id"),
        F.col("embedding").alias("bv"), nrm.alias("__nb"),
    )
    q = assigned_batch.select(
        "cell", F.col("vec_id").alias("batch_id"),
        F.col("embedding").alias("qv"), nrm.alias("__nq"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("bv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    hits = (
        q.join(b, "cell")
        .withColumn("cosine", dot / (F.col("__nq") * F.col("__nb")))
        .filter(F.col("cosine") >= 0.3)
        .groupBy("batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_base_matches"),
            F.round(F.max("cosine"), 6).alias("max_cosine"),
        )
    )
    return (
        assigned_batch.select(
            F.col("vec_id"), F.col("cell").cast("int").alias("cell")
        )
        .join(hits, F.col("vec_id") == hits.batch_id, "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_base_matches", F.lit(0).cast("bigint")).alias(
                "n_base_matches"
            ),
            "max_cosine",
            (F.coalesce("n_base_matches", F.lit(0)) == 0).alias("admitted"),
        )
    )


def q_stream_ann_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ann_incremental_batch — the 100 TB/day ingest
    shape: the IVF index is frozen batch-side (trained on the base
    corpus, broadcast as literal centroids), and the incoming embedding
    stream assigns + verifies per micro-batch with ZERO streaming state:
    `assign_to_cells` is a row-local pandas UDF (stream-safe), and the
    in-cell verification is a stream-STATIC inner join against the
    assigned base — no watermark, no state store, admission latency is
    one micro-batch. A REAL availableNow replay runs the streaming
    query; the drained hit rows aggregate to the identical per-vector
    verdicts as the batch path, so the row shares the batch twin's
    oracle SQL verbatim — one semantics, two execution modes."""

    emb_static = _t(spark, sf_dir, "embeddings")
    base = emb_static.filter(F.col("vec_id") % 5 != 0)
    assigned_base, cents = SIM.ivf_exact_cells(base, n_cells=16, cache_key=("incr_base", sf_dir))
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    b = assigned_base.select(
        "cell", F.col("vec_id").alias("base_id"),
        F.col("embedding").alias("bv"), nrm.alias("__nb"),
    )
    stream = (
        spark.readStream.schema(
            "vec_id bigint, embedding array<float>, label int"
        )
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .filter(F.col("vec_id") % 5 == 0)
    )
    q = SIM.assign_to_cells(stream, cents).select(
        "cell", F.col("vec_id").alias("batch_id"),
        F.col("embedding").alias("qv"), nrm.alias("__nq"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("bv"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    hits_stream = (
        q.join(b, "cell")
        .withColumn("cosine", dot / (F.col("__nq") * F.col("__nb")))
        .filter(F.col("cosine") >= 0.3)
        .select("batch_id", "cosine")
    )
    name = "ann_admission_replay"
    sq = (
        hits_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not sq.awaitTermination(300):
        sq.stop()
        raise RuntimeError("streaming replay did not finish in 300s")
    hits = (
        spark.table(name)
        .groupBy("batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_base_matches"),
            F.round(F.max("cosine"), 6).alias("max_cosine"),
        )
    )
    batch_static = SIM.assign_to_cells(emb_static.filter(F.col("vec_id") % 5 == 0), cents)
    return (
        batch_static.select(
            F.col("vec_id"), F.col("cell").cast("int").alias("cell")
        )
        .join(hits, F.col("vec_id") == hits.batch_id, "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_base_matches", F.lit(0).cast("bigint")).alias(
                "n_base_matches"
            ),
            "max_cosine",
            (F.coalesce("n_base_matches", F.lit(0)) == 0).alias("admitted"),
        )
    )


_ANN_INCREMENTAL_SQL = f"""
WITH ibase AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS iv
  FROM embeddings WHERE vec_id % 5 <> 0),
ibatch AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS iv
  FROM embeddings WHERE vec_id % 5 = 0),
{_ivf_assign_sql(64, 16, rel="ibase")},
d3 AS (
  SELECT v.vec_id, c.j,
    list_sum(list_transform(generate_series(1, 64),
      i -> (v.iv[i] - c.civ[i]) * (v.iv[i] - c.civ[i]))) AS d
  FROM ibatch v CROSS JOIN cents c),
a3 AS (
  SELECT vec_id, j AS cell FROM (
    SELECT vec_id, j,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
    FROM d3) WHERE rn = 1),
hits AS (
  SELECT q.vec_id AS batch_id,
    CAST(COUNT(*) AS BIGINT) AS n_base_matches,
    round(MAX(
      list_sum(list_transform(generate_series(1, 64),
            i -> eq.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(eq.embedding, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE))))
    ), 6) AS max_cosine
  FROM a3 q JOIN a2 b ON q.cell = b.cell
  JOIN embeddings eq ON eq.vec_id = q.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE list_sum(list_transform(generate_series(1, 64),
          i -> eq.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(eq.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE)))) >= 0.3
  GROUP BY q.vec_id)
SELECT a3.vec_id,
  CAST(a3.cell AS INT) AS cell,
  COALESCE(h.n_base_matches, 0) AS n_base_matches,
  h.max_cosine,
  COALESCE(h.n_base_matches, 0) = 0 AS admitted
FROM a3 LEFT JOIN hits h ON h.batch_id = a3.vec_id
"""


def q_bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filtering, exact-arithmetic edition: a bigram
    model is trained on the corpus itself (count(w1,w2)/count(w1·) as
    integer ppm) and every document is scored by its mean bigram
    probability — word-soup and boilerplate-heavy shards surface at the
    extremes. Per-source report: corpus mean and the min/max document
    scores.

    Scale: ONE groupBy over the exploded bigrams trains the model
    (map-side partial aggs; context totals derive from the model table
    itself — see functions/lm.py), one equi-join scores; both stages
    persist per run and are shared with the curation funnel's low-LM
    rule, so the corpus pays one train + one score pass total."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = LM.doc_scores(docs, cache_key=sf_dir)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.expr("sum(sum_ppm) div sum(n_bigrams)")
            .cast("bigint")
            .alias("corpus_mean_ppm"),
            F.min(F.expr("sum_ppm div n_bigrams")).cast("bigint").alias("min_doc_ppm"),
            F.max(F.expr("sum_ppm div n_bigrams")).cast("bigint").alias("max_doc_ppm"),
        )
        .orderBy("source")
    )


_BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS l FROM documents
  WHERE len({_TOKS_SQL}) >= 2),
bg AS (
  SELECT doc_id, source, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
  FROM toks),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
lm AS (
  SELECT c2.w1, c2.w2, c2.c2 * 1000000 // c1.c1 AS p_ppm
  FROM c2 JOIN c1 ON c1.w1 = c2.w1),
per_doc AS (
  SELECT bg.doc_id, bg.source, COUNT(*) AS n_bigrams, SUM(p_ppm) AS sum_ppm
  FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
  GROUP BY bg.doc_id, bg.source)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
  CAST(SUM(sum_ppm) // SUM(n_bigrams) AS BIGINT) AS corpus_mean_ppm,
  CAST(MIN(sum_ppm // n_bigrams) AS BIGINT) AS min_doc_ppm,
  CAST(MAX(sum_ppm // n_bigrams) AS BIGINT) AS max_doc_ppm
FROM per_doc GROUP BY source ORDER BY source
"""


def q_dedup_near_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped artifact: corpus minus near-dups (min-id keeper rule)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.dedup_near(docs, cache_key=sf_dir).select(
        "doc_id", "lang", "source"
    )


_DEDUP_NEAR_SQL = f"""
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
  JOIN sets sb ON sb.doc_id = c.id_b),
drop_ids AS (SELECT DISTINCT id_b FROM verified WHERE jaccard >= 0.8)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM drop_ids)
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters as connected components (iterative label
    propagation on Spark; the oracle computes the same transitive closure
    with a recursive CTE)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    return DD.connected_components(pairs).orderBy("id")


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME dup clusters through the O(log n)-round large-star /
    small-star algorithm (operators/graph.connected_components_star —
    Kiveris et al.): per-hop label propagation costs one round per hop
    of cluster diameter, so a pathological million-doc near-dup CHAIN
    (template families, quoted-reply threads) stalls it at 100 TB; the
    star steps collapse chains logarithmically with scalar per-key
    state. Hash-gated against the identical recursive-CTE closure as
    dedup_components — two independent algorithms, one answer."""
    from ..operators.graph import connected_components_star

    docs = _t(spark, sf_dir, "documents")
    pairs = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key=sf_dir)
    comps, _rounds = connected_components_star(pairs)
    return comps.orderBy("id")


_CC_SQL = f"""
WITH RECURSIVE base AS (
  WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shg FROM documents),
  h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
  sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
  banded AS (SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band FROM sig),
  cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
  sets AS (SELECT doc_id, {_SHINGLES_SQL} AS sh_set FROM documents)
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.sh_set, sb.sh_set))
        / (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set))) >= 0.8
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM base
  UNION SELECT id_b, id_a FROM base),
reach(s, t) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.s, e.dst FROM reach r JOIN edges e ON r.t = e.src)
SELECT s AS id, MIN(t) AS component FROM reach GROUP BY s ORDER BY id
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pass in one plan: language ID +
    quality filter + near-dedup, emitting the surviving corpus with its
    metadata. This is the composition a 100 TB pipeline ships nightly."""
    docs = _t(spark, sf_dir, "documents")
    kept = DD.dedup_near(docs)
    return (
        kept.withColumn("lang_pred", TX.lang_id(F.col("text")))
        .withColumn("quality", TX.quality_score(F.col("text")))
        .filter(F.col("quality") >= 1.0 - 1e-9)
        .select("doc_id", "lang_pred", F.round("quality", 6).alias("quality"))
    )


_CURATION_SQL = f"""
WITH s AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shg FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(shg), 1, 15))::BIGINT % {_P} AS x FROM s),
sig AS (SELECT doc_id, {_SIG_MINS_SQL} FROM h GROUP BY doc_id),
banded AS (SELECT doc_id, unnest([{_BAND_LIST_SQL}]) AS band FROM sig),
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
  JOIN sets sb ON sb.doc_id = c.id_b),
drop_ids AS (SELECT DISTINCT id_b FROM verified WHERE jaccard >= 0.8),
kept AS (SELECT * FROM documents WHERE doc_id NOT IN (SELECT id_b FROM drop_ids)),
scored AS (
  SELECT doc_id,
    {_lang_case()} AS lang_pred,
    ((CASE WHEN len({_TOKS_SQL}) BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
   + (CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?()\\[\\]{{}}"'']', '', 'g'))) / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.0 END)
   + (CASE WHEN len(list_filter({_TOKS_SQL}, t -> t IN ({",".join(repr(w) for w in STOPWORDS["en"])}))) / greatest(len({_TOKS_SQL}), 1) > 0.05 THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality
  FROM kept)
SELECT doc_id, lang_pred, round(quality, 6) AS quality
FROM scored WHERE quality >= 1.0 - 1e-9
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-class sampling (class balancing): keep ~40% of each
    language via an md5-hash bucket — reproducible across engines and runs,
    unlike rand()-based sampling; row-local, no shuffle before the count."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        docs.filter(bucket < 40)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("lang")
    )


_STRATIFIED_SQL = """
SELECT lang, COUNT(*) AS n_sampled FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 40
GROUP BY lang ORDER BY lang
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled brute-force cosine pairs (spot-audit pattern); rounded to
    1e-6 for cross-engine float safety. Full-corpus pair mining routes
    through ivf_near_dup_pairs (learned cells, measured ~linear
    candidates) — this row is the audit baseline it is verified
    against."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = DD.embedding_near_dup_pairs(emb)
    return pairs.withColumn("cosine", F.round("cosine", 6))


_EMB_DUP_SQL = """
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(generate_series(1, len(a.embedding)),
             i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
  FROM s a JOIN s b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.3
"""


