"""Similarity search over embedding columns (BASELINE.json extension).

- **brute_force_topk** — exact cosine top-k: one scan, a JVM-side
  zip_with/aggregate dot product against a broadcast query vector, then a
  global top-k (TakeOrdered — no full sort). The O(n·d) baseline and the
  verifier for the approximate paths.
- **quantized_topk** — int8 scalar quantization with asymmetric distance.
- **hyperplane LSH** — sign-random-projection LSH: h hyperplanes (seeded
  numpy, broadcast as literals) -> per-row bit signature (row-local, no
  shuffle) -> candidates share a bucket (``lsh_bucket_assignments``,
  ``multi_probe_buckets``, ``hyperplane_near_dup_pairs``). At 100 TB the
  bucket column is also the natural parquet partition key so probes prune
  to a handful of files.
- **learned IVF cells** — a deterministic integer Lloyd pass in place of
  random planes (``ivf_exact_cells``, ``assign_to_cells``,
  ``ivf_near_dup_pairs``); every step replays exactly in the DuckDB twins.

The top-k probe queries themselves are built in queries/ from these parts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import cosine_similarity


def dot_with_literal(vec_col: Column, query: list[float]) -> Column:
    """JVM-side dot product with a constant query vector: zip_with against
    array literal. The literal travels in the plan (tiny), not via Python."""
    qarr = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec_col, qarr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_with_literal(vec_col: Column, query: list[float]) -> Column:
    qnorm = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    vnorm = F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot_with_literal(vec_col, query) / (vnorm * F.lit(qnorm))


def brute_force_topk(df: DataFrame, query: list[float], k: int) -> DataFrame:
    """Exact cosine top-k for one query vector. Deterministic tie-break on
    id so results are stable across partitionings/engines."""
    scored = df.select(
        F.col("vec_id"), cosine_with_literal(F.col("embedding"), query).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def with_normalized(df: DataFrame) -> DataFrame:
    """Add ``nvec``, an L2-normalized copy of ``embedding``. The norm is
    materialized in its own projection first so the per-element divide
    does not re-evaluate the aggregate subtree (interpreted higher-order
    functions re-run argument trees per element)."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return df.withColumn("_norm", F.greatest(norm, F.lit(1e-12))).withColumn(
        "nvec",
        F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("_norm")),
    ).drop("_norm")


def quantization_stats(df: DataFrame) -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale) of ``nvec`` for asymmetric int8
    quantization.

    posexplode -> groupBy(pos): the shuffle carries dims × partials, the
    driver collects exactly `dim` rows (constants thereafter, shipped in
    the plan as literals — the classic train-tiny/apply-everywhere split)."""
    stats = (
        df.select(F.posexplode("nvec").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    mins = [float(r.lo) for r in stats]
    scales = [max(float(r.hi) - float(r.lo), 1e-12) / 255.0 for r in stats]
    return mins, scales


def quantize(vec_col: Column, mins: list[float], scales: list[float]) -> Column:
    """Map float dims to 0..255 ints: round((x - min_d) / scale_d).
    Row-local, JVM-side; the int8 representation is 4x smaller in memory
    and shuffle than float32 — the standard ANN compression step."""
    m = F.array(*[F.lit(v) for v in mins])
    s = F.array(*[F.lit(v) for v in scales])
    return F.transform(
        vec_col,
        lambda x, i: F.round(
            (x.cast("double") - F.element_at(m, i + 1)) / F.element_at(s, i + 1)
        ).cast("int"),
    )


def quantized_topk(
    df: DataFrame, query: list[float], mins: list[float], scales: list[float]
) -> DataFrame:
    """Approximate COSINE top-20 over int8-quantized vectors via asymmetric
    distance computation (ADC, the FAISS SQ8 scheme): only the CORPUS is
    quantized; the float query folds into per-dim weights. With
    reconstruction x̂_d = min_d + scale_d·code_d,

        dot(x̂, q) = Σ min_d·q_d  (rank-constant)  +  Σ code_d·(scale_d·q_d)

    so ranking needs just the integer codes x a precomputed weight array.
    The corpus column is ``nvec``, L2-NORMALIZED like the query
    (with_normalized), so dot ranks like cosine. Corpus memory/bandwidth
    drop 4x — at 100 TB of embeddings the difference between in-memory
    and spilled; recall is pinned in tests (only corpus-side quantization
    error remains)."""
    w = F.array(*[F.lit(float(sc * qd)) for sc, qd in zip(scales, query)])
    codes = quantize(F.col("nvec"), mins, scales)
    score = F.aggregate(
        F.zip_with(codes, w, lambda c, wd: c.cast("double") * wd),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        df.select(F.col("vec_id"), F.round(score, 6).alias("qscore"))
        .orderBy(F.col("qscore").desc(), F.col("vec_id"))
        .limit(20)
    )


def pairwise_topk(df: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-3 neighbors for EVERY query row (small query side, broadcast).

    corpus x broadcast(queries) -> cosine -> per-query window top-k. The
    cross join is size |corpus| x |queries| rows but never materializes:
    the window top-k folds it streaming per partition."""
    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        df.select(F.col("vec_id"), F.col("embedding"))
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", cosine_similarity(F.col("embedding"), F.col("qvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim))


def hyperplane_signature(vec_col: Column, planes: np.ndarray) -> Column:
    """Sign-random-projection bit signature as a compact int64. Row-local —
    computed inside the scan, no shuffle, no Python."""
    bits = []
    for i, plane in enumerate(planes):
        d = dot_with_literal(vec_col, list(plane))
        bits.append(F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_bucket_assignments(df: DataFrame, dim: int, n_planes: int) -> DataFrame:
    """Assign every vector to its LSH bucket (the ANN index build pass).
    Writing this out partitioned-by-bucket is the 100 TB index layout:
    queries read only their bucket's files."""
    planes = random_hyperplanes(dim, n_planes)
    return df.select(
        F.col("vec_id"),
        F.col("embedding"),
        hyperplane_signature(F.col("embedding"), planes).alias("bucket"),
    )


# In-plan hard bound on hyperplane-LSH bucket occupancy for the pair
# self-join — the embedding twin of functions/dedup.MAX_BAND_OCCUPANCY.
# Sign-projection buckets follow the DATA distribution: a tight embedding
# cluster (near-duplicate farm, zero vectors, a collapsed encoder) can put
# n vectors in ONE bucket and n² rows through the join. Past the bound the
# join REFUSES to emit rows (assert_true raises at run time); the remedy is
# more planes, an exact-dup pre-split, or the IVF variant whose learned
# cells balance occupancy.
MAX_BUCKET_OCCUPANCY = 10_000


def hyperplane_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 12,
    max_bucket_occupancy: int = MAX_BUCKET_OCCUPANCY,
) -> DataFrame:
    """Full-corpus embedding near-dup pairs, LSH-bucketed — the scale path.

    Identical/near-identical vectors land in the same sign-projection
    bucket with probability (1 - theta/pi)^n_planes, so the self-join is an
    equi-join on bucket (both sides are ONE guarded plan, so Spark reuses a
    single exchange) and the cosine verification runs only inside buckets.
    Expected bucket occupancy n/2^planes controls the quadratic term — size
    n_planes to data volume; a per-bucket occupancy window (over the same
    bucket partitioning the join shuffles on — no extra exchange) feeds an
    in-plan assert_true so one degenerate hot bucket fails loudly instead
    of silently running its n² join. Compare embedding_near_dup_pairs
    (brute force) for audits.

    The probe-side top-k queries (similarity_lsh_topk and the IVF probes)
    carry NO guard on purpose: they are scan + TakeOrdered — a hot bucket
    degrades them toward brute-force COST (linear), never a quadratic
    blow-up."""
    from pyspark.sql import Window

    bucketed = lsh_bucket_assignments(df, dim, n_planes)
    occ = F.count("*").over(Window.partitionBy("bucket"))
    guarded_bucket = F.when(
        F.assert_true(
            F.col("__bucket_occ") <= F.lit(int(max_bucket_occupancy)),
            F.lit(
                "LSH hyperplane bucket exceeds the %d-vector occupancy bound "
                "(degenerate bucket — add planes or pre-split exact "
                "duplicates)" % int(max_bucket_occupancy)
            ),
        ).isNull(),
        F.col("bucket"),
    )
    # per-vector norm computed ONCE before the pair join — the fold is
    # identical to cosine_similarity's, so dot/(na·nb) is bit-identical
    # to the inline form while the O(candidates) verify pays 1 fold per
    # pair instead of 3 (same treatment as ivf_near_dup_pairs)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    guarded = bucketed.withColumn("__bucket_occ", occ).select(
        guarded_bucket.alias("bucket"),
        F.col("vec_id"),
        F.col("embedding"),
        nrm.alias("__nrm"),
    )
    a = guarded.select(
        F.col("bucket"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"), F.col("__nrm").alias("__na"),
    )
    b = guarded.select(
        F.col("bucket"), F.col("vec_id").alias("id_b"),
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
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def multi_probe_buckets(
    query: list[float], planes: np.ndarray, n_probes: int
) -> list[int]:
    """The query's own bucket plus the (n_probes - 1) neighbor buckets
    reached by flipping the lowest-|margin| sign bits — the planes the query
    sits closest to, i.e. the flips most likely to hold true neighbors
    (multi-probe LSH, Lv et al., VLDB'07). Driver-side numpy: O(planes)."""
    q = np.asarray(query, dtype=np.float64)
    margins = planes @ q
    qsig = int(np.sum((margins > 0) * (1 << np.arange(len(planes)))))
    flips = np.argsort(np.abs(margins))[: max(0, n_probes - 1)]
    return [qsig] + [qsig ^ (1 << int(i)) for i in flips]


def _iv_exactness_bound(dim: int) -> int:
    """Largest max|iv| for which _assign_cells_arrow's expanded-form
    float64 distance is EXACT (and hence bit-identical to the SQL
    twins' bigint arithmetic): every intermediate of
    ||x||² − 2⟨x,c⟩ + ||c||² is bounded by 4·dim·M² (|c| ≤ M because
    centroids are floor-means of assigned vectors), so requiring
    4·dim·M² ≤ 2^53 ⇒ M ≤ isqrt(2^51/dim) keeps every value exactly
    representable and every float64 integer op exact."""
    import math

    return math.isqrt((1 << 51) // max(int(dim), 1))


def _exactness_guard(iv_col: Column, dim: int) -> Column:
    """In-plan assert_true (NULL on success) that |round(x·scale)| stays
    under the float64 exactness bound — ADVICE r7: the bound was argued
    for the audit corpora but never checked, so a caller with
    large-magnitude vectors or a big scale could get silently inexact
    distances. Row-local (no shuffle); wrap the CELL column (the
    consumer join key) so Catalyst cannot prune it."""
    bound = _iv_exactness_bound(dim)
    return F.assert_true(
        F.array_max(F.transform(iv_col, lambda v: F.abs(v)))
        <= F.lit(bound),
        F.lit(
            "ivf_exact_cells: |round(x*scale)| exceeds %d, the float64 "
            "exactness bound for dim %d (4*dim*M^2 must stay under "
            "2^53) - lower `scale` or rescale the vectors" % (bound, dim)
        ),
    )


def _assign_cells_arrow(
    centroids: list[list[int]], n_assign: int = 1
) -> "Column":
    """Vectorized nearest-cell assignment as a pandas UDF factory — the
    hot path for the integer-Lloyd pipeline (the zip_with/aggregate HOF
    argmin is interpreted per element: n·k·dim closure calls; this is
    one numpy matmul per Arrow batch, ~1000× fewer Python dispatches at
    30k×240 cells).

    EXACTNESS (what makes this interchangeable with the SQL twins): inputs are integer-valued; ||x−c||² is expanded as
    ||x||² − 2⟨x,c⟩ + ||c||², every intermediate (≤ dim·scale²·4 ≈
    2.6e8 ≪ 2^53) is exactly representable in float64, and float64
    integer arithmetic is exact — so the distances are the SAME
    integers the twins' bigint arithmetic produces. Ties: np.argmin takes the first
    occurrence; the n_assign>1 path uses a stable argsort — both equal
    ROW_NUMBER ORDER BY (d, j)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    cnorm = (C * C).sum(axis=1)  # (k,)
    k = int(n_assign)

    if k == 1:

        @pandas_udf("int")
        def assign1(iv: pd.Series) -> pd.Series:
            if len(iv) == 0:
                return pd.Series([], dtype="int32")
            X = np.stack(iv.to_numpy()).astype(np.float64)  # (n, dim)
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cnorm[None, :]
            return pd.Series(np.argmin(d, axis=1).astype("int32"))

        return assign1

    @pandas_udf("array<int>")
    def assignk(iv: pd.Series) -> pd.Series:
        if len(iv) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(iv.to_numpy()).astype(np.float64)
        d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cnorm[None, :]
        order = np.argsort(d, axis=1, kind="stable")[:, :k].astype("int32")
        return pd.Series(list(order))

    return assignk


# Trained integer-Lloyd centroids cache between runs in the package-wide
# runtime_cache VALUE store (application id + caller token + params):
# consumers re-running the same corpus (bench iterations, a pair-mining
# query next to a probe query) pay the train passes once; the assigned
# frame rides the same registry's frame store under the same key, and
# runtime_cache.release(cache_key) drops both together. Opt-in via
# cache_key — training is deterministic, so caching cannot change values.

# IVF quantizes each dimension onto the integer grid round(x * SCALE); the
# grid is a geometry choice, and _exactness_guard checks it keeps distances
# exact for the vectors at hand.
SCALE = 1000


def _quantized_base(df: DataFrame, scale: int) -> DataFrame:
    """(id, vec, __iv): the integer-quantized projection every IVF step
    reads — round(x*scale) per dimension, exact for the audit corpora."""
    iv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * scale).cast("bigint"),
    )
    return df.select(F.col("vec_id"), F.col("embedding")).withColumn("__iv", iv)


def _assigned_from_cents(df: DataFrame, cents: list[list[int]], scale: int) -> DataFrame:
    """Row-local cell assignment against literal centroids — the final
    (train-free) step of ivf_exact_cells, shared by the miss path and the
    cache-hit rebuild (ADVICE r8: the hit path must be able to
    reconstruct the assigned frame from the centroids alone, not assume
    the frame store still holds it)."""
    base = _quantized_base(df, scale)
    dim = len(cents[0])
    return base.withColumn(
        "cell",
        F.when(
            _exactness_guard(F.col("__iv"), dim).isNull(),
            _assign_cells_arrow(cents)(F.col("__iv")),
        ),
    ).drop("__iv")


def ivf_exact_cells(
    df: DataFrame,
    n_cells: int = 16,
    scale: int = SCALE,
    lloyd_iters: int = 1,
    cache_key=None,
) -> tuple[DataFrame, list[list[int]]]:
    """Deterministic learned-centroid cell assignment — hash-gateable,
    unlike MLlib KMeans, whose centroids depend on sampling and
    parallelism.

    Vectors quantize to integers (round(x·scale) — exact for the audit
    corpora and a pure geometry choice for float embeddings), seeds are
    the n_cells LOWEST-ID vectors, and each Lloyd iteration is exact
    integer arithmetic: assignment by integer squared-L2 argmin (ties →
    lowest cell), centroid update by per-dimension bigint sums with
    floor-divided means (empty cells keep their previous centroid).
    Every step is order-independent and bit-identical in the DuckDB
    twins. The training collects are bounded: n_cells seed rows +
    n_cells·dim aggregate rows per iteration (the classic
    train-tiny/apply-everywhere split — quantization_stats precedent);
    the final assignment is a row-local literal-centroid argmin, no
    shuffle. At 100 TB: fit on a sample, write partitioned by cell."""
    from .. import runtime_cache as _rc
    from .dedup import _cached_stage

    ck = None
    if cache_key is not None:
        ck = ("ivfcells", cache_key, int(n_cells), int(scale), int(lloyd_iters))
        hit = _rc.get_value(df, ck)
        if hit is not None:
            # centroids are the durable artifact: the build lambda can
            # reconstruct the assigned frame from them alone, so an
            # evicted/released frame entry re-builds (cheap, train-free)
            # instead of surfacing as a None frame (ADVICE r8)
            return (
                _cached_stage(
                    df,
                    ck,
                    lambda: _assigned_from_cents(df, hit, scale),
                ),
                hit,
            )
    base = _quantized_base(df, scale)
    seed_rows = (
        base.orderBy("vec_id").limit(int(n_cells)).select("vec_id", "__iv").collect()
    )
    cents = [
        [int(v) for v in r["__iv"]]
        for r in sorted(seed_rows, key=lambda r: r[0])
    ]
    if not cents:
        raise ValueError("ivf_exact_cells: input frame is empty")
    for _ in range(int(lloyd_iters)):
        cell = _assign_cells_arrow(cents)(F.col("__iv"))
        stats = (
            base.select(cell.alias("c"), F.posexplode("__iv").alias("p", "x"))
            .groupBy("c", "p")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in stats:
            # exact floor division on Python ints == FLOOR(s/n) in SQL
            new[r["c"]][r["p"]] = r["s"] // r["n"]
        cents = new
    final_cents = cents
    assigned = _assigned_from_cents(df, final_cents, scale)
    if ck is not None:
        assigned = _cached_stage(df, ck, lambda: assigned)
        _rc.put_value(df, ck, final_cents)
    return assigned, final_cents


def assign_to_cells(df: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Assign vectors to FROZEN learned cells (the centroids from a prior
    ivf_exact_cells fit) — the incremental-admission primitive: a new
    batch quantizes and argmin-assigns against the trained index without
    touching or re-training it. Row-local (literal centroids travel in
    the plan), deterministic, and SQL-replayable like the trainer; the
    same float64-exactness guard wraps the cell column."""
    iv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * SCALE).cast("bigint"),
    )
    dim = len(centroids[0])
    base = df.select(F.col("vec_id"), F.col("embedding")).withColumn("__iv", iv)
    return base.withColumn(
        "cell",
        F.when(
            _exactness_guard(F.col("__iv"), dim).isNull(),
            _assign_cells_arrow(centroids)(F.col("__iv")),
        ),
    ).drop("__iv")


def ivf_near_dup_pairs(
    df: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    max_cell_occupancy: int = MAX_BUCKET_OCCUPANCY,
    n_assign: int = 1,
    cache_key=None,
) -> DataFrame:
    """Full-corpus embedding near-dup pairs over LEARNED cells — the
    DEFAULT 100 TB pair-mining path. The measured scaling laws
    (tests/test_ann_scale.py) show sign-LSH candidates grow ~n^1.5 on
    clustered corpora (sign buckets follow the data's angular lumps)
    while data-adapted cells with n_cells ∝ n hold occupancy ~constant
    and candidates ~linear — so pair mining routes here;
    hyperplane_near_dup_pairs remains the index-free fallback.

    Same contract as the hyperplane path: self equi-join on cell (one
    guarded plan, exchange reused), cosine verification only inside
    cells, and a per-cell occupancy window feeding an in-plan
    assert_true so one degenerate hot cell fails loudly instead of
    silently running its n² join (remedy: more cells, an exact-dup
    pre-split, or re-training on a fresher sample).

    ``n_assign`` is the recall knob (IVF multi-assignment): each vector
    joins its n_assign nearest cells, so a near pair straddling one
    cell boundary still co-occurs; candidate volume rises ≤ n_assign²×
    (measured 3.63× for n_assign=2 on the planted 7.5k corpus, near
    recall 0.965 → 1.0 — tests/test_ann_scale.py) and pairs found in
    several shared cells dedup via distinct. Deterministic and SQL-replayable
    like the rest of the pipeline (the k-nearest pick is repeated
    masked argmin == ROW_NUMBER ORDER BY (d, j) ≤ k)."""
    from pyspark.sql import Window

    assigned, cents = ivf_exact_cells(df, n_cells=n_cells, cache_key=cache_key)
    if int(n_assign) > 1:
        iv = F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * SCALE).cast("bigint"),
        )

        def _build_multi() -> DataFrame:
            return (
                df.select(F.col("vec_id"), F.col("embedding"))
                .withColumn("__iv", iv)
                .withColumn(
                    "__cells",
                    F.when(
                        _exactness_guard(
                            F.col("__iv"), len(cents[0])
                        ).isNull(),
                        _assign_cells_arrow(cents, int(n_assign))(
                            F.col("__iv")
                        ),
                    ),
                )
                .withColumn("cell", F.explode("__cells"))
                .drop("__iv", "__cells")
            )

        from .dedup import _cached_stage

        mk = None
        if cache_key is not None:
            mk = ("ivfmulti", cache_key, int(n_cells), int(n_assign))
        assigned = _cached_stage(df, mk, _build_multi)
    occ = F.count("*").over(Window.partitionBy("cell"))
    guarded_cell = F.when(
        F.assert_true(
            F.col("__cell_occ") <= F.lit(int(max_cell_occupancy)),
            F.lit(
                "IVF cell exceeds the %d-vector occupancy bound "
                "(degenerate cell — raise n_cells or pre-split exact "
                "duplicates)" % int(max_cell_occupancy)
            ),
        ).isNull(),
        F.col("cell"),
    )
    # per-vector norm computed ONCE before the pair join (the fold is
    # identical to cosine_similarity's, so dot/(na·nb) is bit-identical
    # to the inline form — but the O(candidates) verify pays 1 fold per
    # pair instead of 3)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    guarded = assigned.withColumn("__cell_occ", occ).select(
        guarded_cell.alias("cell"),
        F.col("vec_id"),
        F.col("embedding"),
        nrm.alias("__nrm"),
    )
    a = guarded.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("__nrm").alias("__na"),
    )
    b = guarded.select(
        "cell",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("__nrm").alias("__nb"),
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
    out = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    if int(n_assign) > 1:
        # a pair sharing several of its assigned cells collides once per
        # shared cell; cosine is deterministic per pair, so distinct
        # collapses the duplicates exactly
        out = out.distinct()
    return out
