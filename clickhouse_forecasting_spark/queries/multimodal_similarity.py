# IVF probe variants + multimodal media features/frames
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
from ..functions import similarity as SIM
from ..operators import ranking as RK
from .catalog_relational import _t
from .dedup_ann_scale import _ivf_assign_sql
from .shared_fragments import _planes_cte
from .similarity_search import (
    _LSH_MULTIPROBE_SQL,
    _LSH_SIGS_SQL,
    _LSH_TOPK_SQL,
    _TOPK_SQL,
    q_similarity_lsh_topk,
    q_similarity_multiprobe_topk,
    q_similarity_topk,
)
# --------------------------------------------------------------------------
# multimodal (extension)
# --------------------------------------------------------------------------


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over LEARNED cells: integer-Lloyd trained centroids
    (similarity.ivf_exact_cells), 4-probe cosine search, top-10.

    Re-expressed in r8 over the deterministic trainer so the ENTIRE
    train+probe dataflow hash-gates against a DuckDB replay (r7 VERDICT
    #4) — this was the last MLlib-KMeans registry row, rows-only because
    k-means|| init sampling makes the centroids JVM engine state no SQL
    twin can replay; that MLlib path is gone from the package. Differs from
    similarity_ivf_det_topk, whose centroids are data-PICKED (vectors of
    vec_id 0..15, no training): this row exercises the Lloyd-trained
    probe path a production IVF deploys."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    assigned, cents = SIM.ivf_exact_cells(emb, n_cells=16, cache_key=sf_dir)
    query = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]

    def seq_dot(a: list, b: list) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    # probe the 4 nearest cells by cosine(query, centroid) — driver-side
    # over the exact integer centroids, ties to the lowest cell (the SQL
    # twin's ORDER BY cosine DESC, j): the same seq-sum float64 algebra
    # as the det variant, so both engines pick the same probes
    qn = math.sqrt(seq_dot(query, query))
    sims = []
    for j, civ in enumerate(cents):
        cf = [float(v) for v in civ]
        cn = math.sqrt(seq_dot(cf, cf))
        sims.append((seq_dot(cf, query) / (cn * qn), j))
    probe = [j for _, j in sorted(sims, key=lambda t: (-t[0], t[1]))[:4]]

    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        assigned.filter(F.col("cell").isin(probe))
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


_IVF_TOPK_SQL = f"""
WITH icorpus AS (
  SELECT vec_id,
    list_transform(embedding,
                   x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS iv
  FROM embeddings),
{_ivf_assign_sql(64, 16)},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT j FROM cents, q
  ORDER BY
    list_sum(list_transform(generate_series(1, 64),
             i -> civ[i]::DOUBLE * qv[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(civ, y -> y::DOUBLE * y::DOUBLE)))
     * sqrt(list_sum(list_transform(qv, y -> y::DOUBLE * y::DOUBLE)))) DESC,
    j
  LIMIT 4),
scored AS (
  SELECT e.vec_id,
    round(list_sum(list_transform(generate_series(1, 64),
          i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id IN (SELECT vec_id FROM a2 JOIN probes ON cell = j))
SELECT vec_id, cosine, rank FROM (
  SELECT vec_id, cosine, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 10
"""


def q_similarity_ivf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with DETERMINISTIC data-sampled centroids (the vectors of
    vec_id 0..15): the same partition-pruned probe shape as the
    Lloyd-TRAINED variant (similarity_ivf_topk) minus the training pass,
    and every step — centroid pick, 4-probe cosine ranking,
    argmin assignment via ||c||^2 - 2<x,c>, in-probe cosine top-10 — is
    replayed by the DuckDB twin with the identical sequential-sum float
    algebra, so the whole IVF dataflow is hash-gated. Assignment runs
    in-plan against literal centroids; ties break
    to the lowest centroid id in both engines."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 16).collect()
    }
    cent_ids = sorted(cents)
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    def seq_dot(a: list, b: list) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    qn = math.sqrt(seq_dot(query, query))
    sims = [
        (
            seq_dot(cents[c], query)
            / (math.sqrt(seq_dot(cents[c], cents[c])) * qn),
            c,
        )
        for c in cent_ids
    ]
    probe = [c for _, c in sorted(sims, key=lambda t: (-t[0], t[1]))[:4]]

    d2s = F.array(
        *[
            F.lit(seq_dot(cents[c], cents[c]))
            - 2.0
            * F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(v) for v in cents[c]]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in cent_ids
        ]
    )
    cluster = F.element_at(
        F.array(*[F.lit(c) for c in cent_ids]),
        F.array_position(d2s, F.array_min(d2s)).cast("int"),
    )
    qrow = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scored = (
        emb.withColumn("cluster", cluster)
        .filter(F.col("cluster").isin(probe))
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


_IVF_DET_SQL = """
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cid FROM cent, q
  ORDER BY
    list_sum(list_transform(generate_series(1, len(cv)),
             i -> cv[i]::DOUBLE * qv[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(cv, y -> y::DOUBLE * y::DOUBLE)))
     * sqrt(list_sum(list_transform(qv, y -> y::DOUBLE * y::DOUBLE)))) DESC,
    cid
  LIMIT 4),
d2 AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(c.cv, y -> y::DOUBLE * y::DOUBLE))
    - 2.0 * list_sum(list_transform(generate_series(1, len(e.embedding)),
             i -> e.embedding[i]::DOUBLE * c.cv[i]::DOUBLE)) AS d2
  FROM embeddings e CROSS JOIN cent c),
assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2)
  WHERE rn = 1),
scored AS (
  SELECT e.vec_id,
    round(list_sum(list_transform(generate_series(1, len(e.embedding)),
          i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id IN (SELECT vec_id FROM assigned JOIN probes ON cluster = cid))
SELECT vec_id, cosine, rank FROM (
  SELECT vec_id, cosine, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 10
"""


def q_similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-measuring ANN quality telemetry: |approx top-10 ∩ exact
    top-10| for each deterministic approximate method (single-probe LSH,
    multi-probe LSH, deterministic-centroid IVF) — 'measure, don't
    guess' as a first-class query. Every path is seed/data-deterministic,
    so the DuckDB twin recomputes the identical report by composing the
    methods' own oracle SQL and intersecting."""
    from functools import reduce

    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    methods = [
        ("ivf_det", q_similarity_ivf_det_topk),
        ("lsh", q_similarity_lsh_topk),
        ("multiprobe", q_similarity_multiprobe_topk),
    ]
    frames = [
        fn(spark, sf_dir)
        .select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
        .select(F.lit(name).alias("method"), "n_overlap")
        for name, fn in methods
    ]
    return reduce(lambda a, b: a.unionByName(b), frames).orderBy("method")


def _recall_report_sql() -> str:
    return f"""
WITH exact AS (SELECT vec_id FROM ({_TOPK_SQL})),
ivf AS (SELECT vec_id FROM ({_IVF_DET_SQL})),
lshq AS (SELECT vec_id FROM ({_LSH_TOPK_SQL})),
mp AS (SELECT vec_id FROM ({_LSH_MULTIPROBE_SQL}))
SELECT 'ivf_det' AS method, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM ivf JOIN exact USING (vec_id)
UNION ALL
SELECT 'lsh', CAST(COUNT(*) AS BIGINT) FROM lshq JOIN exact USING (vec_id)
UNION ALL
SELECT 'multiprobe', CAST(COUNT(*) AS BIGINT) FROM mp JOIN exact USING (vec_id)
ORDER BY method
"""


def q_dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus embedding near-dup via hyperplane-LSH buckets,
    hash-gated: the seed-fixed plane constants are baked into the DuckDB
    twin, which recomputes the same signatures, bucket equi-join, and
    cosine verification (output rounded 6dp, the embedding_near_dup
    convention)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    pairs = SIM.hyperplane_near_dup_pairs(emb, dim, threshold=0.3, n_planes=4)
    return pairs.withColumn("cosine", F.round("cosine", 6))


_LSH_PAIRS_SQL = f"""
WITH {_planes_cte(4)},
{_LSH_SIGS_SQL.lstrip()},
e2 AS (
  SELECT s.vec_id, s.bucket, e.embedding
  FROM sigs s JOIN embeddings e USING (vec_id)),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(generate_series(1, len(a.embedding)),
             i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cosine
  FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM p WHERE cosine >= 0.3
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1:N frame sampling over media payloads (rows-only: frame bytes are
    stub-decoded engine-side; shape and checksums tested)."""
    docs = _t(spark, sf_dir, "documents")
    return MM.sample_frames(MM.attach_payload(docs))


def q_multimodal_frames_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed audit of the 1:N frame sampler: per (doc, frame) the md5
    checksum and byte length of the frame payload — fully deterministic
    byte arithmetic, so the DuckDB twin replays the same slicing
    (step = max(len//4, 1), tail fallback) with substr/md5. The fixture
    text is pure ASCII (dtype test pins it), so char slicing == byte
    slicing; the binary frames themselves stay in the rows-only query."""
    docs = _t(spark, sf_dir, "documents")
    fr = MM.sample_frames(MM.attach_payload(docs))
    return fr.select(
        "doc_id", "frame_idx", "frame_checksum",
        F.octet_length("frame_payload").cast("bigint").alias("frame_bytes"),
    )


_MM_FRAMES_AUDIT_SQL = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         greatest(length(text) // 4, 1) AS step
  FROM documents WHERE length(text) > 0),
idx AS (
  SELECT doc_id, text, n, step, unnest(generate_series(0, 3)) AS i FROM d),
fr AS (
  SELECT doc_id, CAST(i AS INT) AS frame_idx,
    CASE WHEN substr(text, i * step + 1, step) <> ''
         THEN substr(text, i * step + 1, step)
         ELSE substr(text, n - step + 1, step) END AS frame
  FROM idx)
SELECT doc_id, frame_idx, md5(frame) AS frame_checksum,
  CAST(length(frame) AS BIGINT) AS frame_bytes
FROM fr
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    mm = MM.attach_payload(docs)
    return mm.select(
        "doc_id",
        F.col("media.byte_len").alias("byte_len"),
        F.col("media.checksum").alias("checksum"),
    )


_MM_META_SQL = "SELECT doc_id, strlen(text)::BIGINT AS byte_len, md5(text) AS checksum FROM documents"


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-UDF decode path over the documents payloads. The fallback
    decoder is deterministic byte statistics, so even the stub path is
    oracle-hashable: the DuckDB twin recomputes byte_len/first/last/
    window-sum from the ASCII text (char == byte, pinned by the dtype
    test) and the exact integer-sum/4 mean. The REAL codec path is
    hash-gated separately by multimodal_image_features."""
    docs = _t(spark, sf_dir, "documents")
    return MM.extract_features(MM.attach_payload(docs))


_MM_FEATURES_SQL = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS byte_len,
  (length(text)
   + list_sum(list_transform(generate_series(1, least(length(text), 256)),
              i -> ascii(substr(text, i, 1)))) % 997
   + ascii(substr(text, 1, 1))
   + ascii(substr(text, length(text), 1))) / 4.0 AS feat_mean,
  4 AS feat_dim
FROM documents
"""


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-gated end-to-end: each document gets a
    deterministic 4x4 24-bit BMP whose pixels tile its md5 digest, the
    payload round-trips through the pure-Python encoder AND decoder inside
    mapInPandas, and the decoded mean pixel intensity is emitted. The
    DuckDB twin recomputes the same mean directly from the md5 hex pairs,
    so a codec bug anywhere in the header/row-padding/BGR/bottom-up logic
    breaks the hash. Payload bytes never shuffle (generate + decode in one
    per-partition pass)."""
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
                payload = MM.encode_bmp(4, 4, rgb)
                feats = MM._decode_payload(payload)  # real BMP path
                out.append(
                    {
                        "doc_id": doc_id,
                        "feat_mean": round(feats[0], 6),
                        "width": int(feats[1]),
                        "height": int(feats[2]),
                    }
                )
            yield pd.DataFrame(out, columns=["doc_id", "feat_mean", "width", "height"])

    return docs.mapInPandas(_gen_and_decode, schema=schema)


_MM_IMAGE_SQL = """
SELECT doc_id,
  round(list_sum(list_transform(generate_series(0, 15),
        i -> ('0x' || substr(md5(text), 2 * i + 1, 2))::BIGINT)) / 16.0, 6)
    AS feat_mean,
  4 AS width, 4 AS height
FROM documents
"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-gated end-to-end: each document gets a
    deterministic 16-sample 16-bit mono PCM clip (samples derived from its
    md5 digest), the payload round-trips through the pure-Python RIFF/WAVE
    encoder AND decoder inside mapInPandas, and the decoded mean signal
    power + zero-crossing count are emitted. The DuckDB twin recomputes
    both directly from the md5 hex pairs, so a codec bug anywhere in the
    chunk walk / PCM unpack breaks the hash (all values are exact: the
    power sum is < 2^53 and divides by 16). Payload bytes never shuffle."""
    import hashlib
    from collections.abc import Iterator as _It

    import pandas as pd  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = (
        "doc_id long, mean_power double, sample_rate long,"
        " n_samples long, zero_crossings long"
    )

    def _gen_and_decode(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        cols = ["doc_id", "mean_power", "sample_rate", "n_samples", "zero_crossings"]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5(str(text).encode("utf-8")).digest()
                samples = [b * 256 - 32768 for b in digest]  # 16 int16 values
                payload = MM.encode_wav(8000, samples)
                feats = MM._decode_payload(payload)  # real RIFF/WAVE path
                out.append(
                    {
                        "doc_id": doc_id,
                        "mean_power": feats[0],
                        "sample_rate": int(feats[1]),
                        "n_samples": int(feats[2]),
                        "zero_crossings": int(feats[3]),
                    }
                )
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(_gen_and_decode, schema=schema)


_MM_AUDIO_SQL = """
WITH b AS (
  SELECT doc_id,
    list_transform(generate_series(0, 15),
      i -> ('0x' || substr(md5(text), 2 * i + 1, 2))::BIGINT * 256 - 32768) AS s
  FROM documents)
SELECT doc_id,
  list_sum(list_transform(s, v -> v * v)) / 16.0 AS mean_power,
  CAST(8000 AS BIGINT) AS sample_rate,
  CAST(16 AS BIGINT) AS n_samples,
  CAST(list_sum(list_transform(generate_series(2, 16),
      i -> CASE WHEN (s[i-1] < 0) <> (s[i] < 0) THEN 1 ELSE 0 END))
    AS BIGINT) AS zero_crossings
FROM b
"""


def q_multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, oracle-gated end-to-end — completing the
    image/audio/VIDEO codec trio: each document gets a deterministic
    4-frame 2x2 RGB clip (48 bytes from three chained md5 digests), the
    payload round-trips through the pure-Python AVI encoder AND decoder
    (RIFF form-type dispatch -> chunk-tree walk -> bottom-up-BGR frame
    unpack) inside mapInPandas, and the decoded geometry + mean RGB
    level are emitted. The DuckDB twin recomputes them from the same
    md5 hex pairs, so a bug anywhere in the container walk or the DIB
    row flip breaks the hash. Payload bytes never shuffle."""
    import hashlib
    from collections.abc import Iterator as _It

    import pandas as pd  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = "doc_id long, n_frames long, width long, height long, mean_rgb double"

    def _gen_and_decode(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        cols = ["doc_id", "n_frames", "width", "height", "mean_rgb"]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = str(text)
                raw = (
                    hashlib.md5(t.encode()).digest()
                    + hashlib.md5((t + "|1").encode()).digest()
                    + hashlib.md5((t + "|2").encode()).digest()
                )
                frames = [raw[12 * k : 12 * k + 12] for k in range(4)]
                payload = MM.encode_avi(2, 2, frames)
                feats = MM._decode_payload(payload)  # RIFF -> AVI path
                out.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": int(feats[0]),
                        "width": int(feats[1]),
                        "height": int(feats[2]),
                        "mean_rgb": feats[3],
                    }
                )
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(_gen_and_decode, schema=schema)


_MM_VIDEO_SQL = """
WITH b AS (
  SELECT doc_id,
    md5(text) || md5(text || '|1') || md5(text || '|2') AS hexs
  FROM documents)
SELECT doc_id, CAST(4 AS BIGINT) AS n_frames, CAST(2 AS BIGINT) AS width,
  CAST(2 AS BIGINT) AS height,
  list_sum(list_transform(generate_series(0, 47),
    i -> ('0x' || substr(hexs, 2 * i + 1, 2))::BIGINT)) / 48.0 AS mean_rgb
FROM b
"""


def q_multimodal_video_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full video TRANSFORM pipeline, oracle-gated: decode the 4-frame
    AVI clip, nearest-neighbor-resize every frame 2x2 -> 1x1, and emit
    each thumbnail's RGB. Floor point-sampling picks source pixel (0,0),
    i.e. the first 3 RGB bytes of each decoded frame — which the DuckDB
    twin reads straight from the md5 hex pairs, so the whole
    decode -> row-unflip -> resize chain must be byte-perfect for the
    hash to match. 1:N frame fan-out happens inside mapInPandas; only
    (doc, frame, 3 ints) rows ever shuffle."""
    import hashlib
    from collections.abc import Iterator as _It

    import pandas as pd  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = "doc_id long, frame_idx long, r long, g long, b long"

    def _pipeline(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        cols = ["doc_id", "frame_idx", "r", "g", "b"]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = str(text)
                raw = (
                    hashlib.md5(t.encode()).digest()
                    + hashlib.md5((t + "|1").encode()).digest()
                    + hashlib.md5((t + "|2").encode()).digest()
                )
                payload = MM.encode_avi(
                    2, 2, [raw[12 * k : 12 * k + 12] for k in range(4)]
                )
                w, h, frames = MM.decode_avi(payload)
                for k, fr in enumerate(frames):
                    thumb = MM.resize_rgb(fr, w, h, 1, 1)
                    out.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": k,
                            "r": thumb[0],
                            "g": thumb[1],
                            "b": thumb[2],
                        }
                    )
            yield pd.DataFrame(out, columns=cols)

    return docs.mapInPandas(_pipeline, schema=schema)


_MM_VIDEO_THUMBS_SQL = """
WITH b AS (
  SELECT doc_id,
    md5(text) || md5(text || '|1') || md5(text || '|2') AS hexs
  FROM documents),
f AS (
  SELECT doc_id, k AS frame_idx,
    ('0x' || substr(hexs, 24 * k + 1, 2))::BIGINT AS r,
    ('0x' || substr(hexs, 24 * k + 3, 2))::BIGINT AS g,
    ('0x' || substr(hexs, 24 * k + 5, 2))::BIGINT AS b
  FROM b, UNNEST(generate_series(0, 3)) AS u(k))
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, r, g, b FROM f
"""


