"""ANN at fan-out scale (r5 VERDICT #5) — the dedup_scale treatment applied
to the similarity family.

A deterministic synthetic embedding corpus with a PLANTED neighbor
structure (per 10-vector group: 8 independent, 1 near-dup at cosine ≈
0.999, 1 exact dup) runs the full sign-projection signature → bucket
pair-join → cosine-verify pipeline at 7.5k/15k/30k vectors with the plane
count scaled to the corpus (⌈log2 n⌉ + 3). Pinned:

- exact-neighbor recovery is TOTAL (identical vector ⇒ identical
  signature at any plane count — a must, not a probability);
- near-neighbor recovery tracks the (1 − θ/π)^planes collision law;
- candidate volume stays orders of magnitude under brute force BUT grows
  measurably superlinearly (~n^1.5 here): sign cells over an isotropic-ish
  corpus are unevenly sized, and adding log-many random planes does not
  halve the hot cells — the empirical reason SCALING.md routes 100 TB
  pair mining through learned (IVF) cells and why the in-plan bucket
  occupancy guard exists. The pin records the measured law so a silent
  regression TO quadratic (all-pairs) fails loudly.

The same frame at 2k vectors is hash-gated against a DuckDB full-pipeline
replay (ann_scale_contract_audit in the registry)."""

from __future__ import annotations

import pytest

from clickhouse_forecasting_spark.queries import (
    ann_grid_scale_audit_frame,
    ann_scale_audit_frame,
    synth_embedding_corpus,
)

SIZES = (7_500, 15_000, 30_000)


@pytest.fixture(scope="module")
def audits(spark):
    return {
        n: ann_scale_audit_frame(spark, n).collect()[0].asDict()
        for n in SIZES
    }


def test_planted_exact_recovery_is_total(audits):
    for n, a in audits.items():
        assert a["n_planted_exact_recovered"] == n // 10, (n, a)


def test_planted_near_recovery_tracks_collision_law(audits):
    # 2 near pairs per group at cosine ≈ 0.999 (θ ≈ 0.03–0.15 rad over the
    # md5 delta distribution); (1 − θ/π)^p at p = 16..18 predicts ~0.85.
    # Pin a generous band: recovery must stay high but CANNOT be total
    # (that would mean the bucket filter isn't filtering).
    for n, a in audits.items():
        planted = 2 * (n // 10)
        frac = a["n_planted_near_recovered"] / planted
        assert 0.70 <= frac < 1.0, (n, frac)


def test_candidates_orders_of_magnitude_under_bruteforce(audits):
    for n, a in audits.items():
        brute = n * (n - 1) // 2
        assert a["n_candidates"] * 500 <= brute, (n, a["n_candidates"], brute)


def test_candidate_growth_law_is_pinned(audits):
    # measured: ~2.7–3.0× per corpus doubling with log-scaled planes
    # (n^~1.5 — the hot-sign-cell effect documented in the module
    # docstring). A regression to all-pairs would show ~4×; a balanced
    # (IVF-style) partitioner would show ~2×. Pin the band so either
    # silent change is caught.
    r1 = audits[15_000]["n_candidates"] / audits[7_500]["n_candidates"]
    r2 = audits[30_000]["n_candidates"] / audits[15_000]["n_candidates"]
    assert 1.8 <= r1 <= 3.6 and 1.8 <= r2 <= 3.6, (r1, r2)


def test_bucket_occupancy_stays_guardable(audits):
    # the hot cell grows slowly (≪ linearly); the in-plan guard bound is
    # 10k — pin an order-of-magnitude margin under it at these sizes
    for n, a in audits.items():
        assert a["max_bucket_occupancy"] <= 1_000, (n, a)


@pytest.fixture(scope="module")
def grid_audits(spark):
    return {
        n: ann_grid_scale_audit_frame(spark, n).collect()[0].asDict()
        for n in SIZES
    }


def test_grid_planted_recovery_is_total(grid_audits):
    # the grid keys on the three UNPERTURBED coordinates, so both exact
    # and near planted pairs always co-bucket — recovery is structural
    for n, a in grid_audits.items():
        assert a["n_planted_exact_recovered"] == n // 10, (n, a)
        assert a["n_planted_near_recovered"] == 2 * (n // 10), (n, a)


def test_grid_candidate_growth_is_linear(grid_audits):
    # balanced cells (count ∝ n): candidate volume grows ~2× per corpus
    # doubling (wobble from integer cells-per-axis rounding) — the
    # contrast to the hyperplane audit's ~2.7–3.0×
    r1 = grid_audits[15_000]["n_candidates"] / grid_audits[7_500]["n_candidates"]
    r2 = grid_audits[30_000]["n_candidates"] / grid_audits[15_000]["n_candidates"]
    assert 1.5 <= r1 <= 2.5 and 1.5 <= r2 <= 2.5, (r1, r2)


def test_grid_occupancy_constant(grid_audits):
    # cells follow the (uniform) data distribution: the hot cell must NOT
    # grow with the corpus
    for n, a in grid_audits.items():
        assert a["max_bucket_occupancy"] <= 40, (n, a)


def test_scale_pipeline_plans_distributed(spark):
    from clickhouse_forecasting_spark.plans import single_partition_collapses

    df = ann_scale_audit_frame(spark, 7_500)
    assert single_partition_collapses(df) == []


def test_corpus_generator_contract(spark):
    vecs = synth_embedding_corpus(spark, 100).collect()
    by_id = {r.vec_id: list(r.embedding) for r in vecs}
    assert len(by_id) == 100
    for base in range(0, 100, 10):
        assert by_id[base + 9] == by_id[base]  # planted exact dup
        near, orig = by_id[base + 8], by_id[base]
        assert near[:-1] == orig[:-1]  # only the last coordinate mutated
        assert near[-1] != orig[-1]
        assert abs(near[-1] - orig[-1]) <= 0.1 + 1e-12  # bounded delta


@pytest.fixture(scope="module")
def ivf_audits(spark):
    from clickhouse_forecasting_spark.queries import ann_ivf_scale_audit_frame

    return {
        n: ann_ivf_scale_audit_frame(spark, n).collect()[0].asDict()
        for n in SIZES
    }


def test_ivf_planted_exact_recovery_is_total(ivf_audits):
    # identical vectors quantize to identical integer points, and the
    # argmin is deterministic — exact dups ALWAYS co-cell (structural)
    for n, a in ivf_audits.items():
        assert a["n_planted_exact_recovered"] == n // 10, (n, a)


def test_ivf_planted_near_recovery_high(ivf_audits):
    # near pairs differ by ≤0.1 in one coordinate; learned cells split a
    # pair only when it straddles a boundary — measured ≈0.95. Must be
    # high but CANNOT be total (the cells really partition).
    for n, a in ivf_audits.items():
        planted = 2 * (n // 10)
        frac = a["n_planted_near_recovered"] / planted
        assert 0.88 <= frac < 1.0, (n, frac)


def test_ivf_candidate_growth_is_linear(ivf_audits):
    # THE promotion criterion (r6 VERDICT #5): learned cells with
    # n_cells ∝ n hold occupancy ~constant, so candidates grow ~2× per
    # corpus doubling (measured 1.97 / 2.00) — vs the hyperplane path's
    # measured ~2.7–3.0× (~n^1.5). Band ≤ 2.2 per the promotion bar.
    r1 = ivf_audits[15_000]["n_candidates"] / ivf_audits[7_500]["n_candidates"]
    r2 = ivf_audits[30_000]["n_candidates"] / ivf_audits[15_000]["n_candidates"]
    assert 1.7 <= r1 <= 2.2 and 1.7 <= r2 <= 2.2, (r1, r2)


def test_ivf_candidates_orders_of_magnitude_under_bruteforce(ivf_audits):
    # avg occupancy is pinned at ~125 (n_cells = n/125), so the margin
    # under brute force is ~n/250 — ×30 at 7.5k, ×200 at 30k: looser
    # than the hyperplane pin's ×500 at these sizes but GROWING with n
    # instead of shrinking (linear vs n^1.5)
    for n, a in ivf_audits.items():
        brute = n * (n - 1) // 2
        assert a["n_candidates"] * 20 <= brute, (n, a["n_candidates"], brute)


def test_ivf_occupancy_stays_constant(ivf_audits):
    # data-adaptive cells: the hot cell must NOT grow with the corpus
    # (measured 240/237/285 at 7.5k/15k/30k — mean occupancy is 125)
    for n, a in ivf_audits.items():
        assert a["max_cell_occupancy"] <= 450, (n, a)


def test_ivf_scale_pipeline_plans_distributed(spark):
    from clickhouse_forecasting_spark.plans import single_partition_collapses
    from clickhouse_forecasting_spark.queries import ann_ivf_scale_audit_frame

    df = ann_ivf_scale_audit_frame(spark, 7_500)
    assert single_partition_collapses(df) == []


def test_ivf_near_dup_pairs_guard_fires_on_hot_cell(spark):
    # one degenerate cell (all-identical corpus collapses into a single
    # cell) must fail loudly via the in-plan occupancy assert
    from pyspark.sql import functions as F

    from clickhouse_forecasting_spark.functions import similarity as SIM
    from clickhouse_forecasting_spark.queries import synth_embedding_corpus

    corpus = synth_embedding_corpus(spark, 500).select(
        "vec_id", F.expr("transform(embedding, x -> 0.5d)").alias("embedding")
    )
    bad = SIM.ivf_near_dup_pairs(
        corpus, n_cells=8, threshold=0.9, max_cell_occupancy=100
    )
    with pytest.raises(Exception, match="occupancy bound"):
        bad.count()


def test_ivf_multi_assign_recall_knob(spark):
    # n_assign=2: every vector joins its two nearest cells — planted
    # near pairs that straddle one boundary co-occur, recall goes total
    # (measured 0.9653 → 1.0 at 7.5k) while candidates stay ≤ n_assign²×
    # (measured 3.63×) and exact recovery stays structural
    from pyspark.sql import functions as F

    from clickhouse_forecasting_spark.functions import similarity as SIM
    from clickhouse_forecasting_spark.queries import (
        _ivf_cells_for,
        synth_embedding_corpus,
    )

    n = 7_500
    corpus = synth_embedding_corpus(spark, n)
    intra = F.expr("id_a div 10") == F.expr("id_b div 10")
    ra, rb = F.col("id_a") % 10, F.col("id_b") % 10
    near = intra & (((ra == 0) & (rb == 8)) | ((ra == 8) & (rb == 9)))
    exact = intra & (ra == 0) & (rb == 9)
    got = {}
    for na in (1, 2):
        pairs = SIM.ivf_near_dup_pairs(
            corpus, n_cells=_ivf_cells_for(n), threshold=-1.0, n_assign=na
        )
        got[na] = pairs.agg(
            F.count("*").alias("cand"),
            F.sum(near.cast("int")).alias("near"),
            F.sum(exact.cast("int")).alias("exact"),
        ).collect()[0]
    assert got[1]["exact"] == got[2]["exact"] == n // 10
    assert got[1]["near"] < 2 * (n // 10)  # single-assign really misses some
    assert got[2]["near"] == 2 * (n // 10)  # multi-assign recovers them all
    assert got[2]["cand"] <= 4 * got[1]["cand"]  # ≤ n_assign² candidate cost


def test_ann_incremental_admission_semantics(spark):
    """assign_to_cells + frozen-index admission: an exact duplicate of a
    base vector must land in the same cell (identical quantization,
    deterministic argmin) and be rejected with cosine 1.0; a far vector
    must be admitted. The index is trained on the base only."""
    from clickhouse_forecasting_spark.functions import similarity as SIM
    from pyspark.sql import functions as F

    base_rows = [
        (i, [1.0 if j == (i % 4) else 0.05 * ((i + j) % 3) for j in range(8)])
        for i in range(1, 41)
    ]
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    assigned, cents = SIM.ivf_exact_cells(base, n_cells=4)
    # batch: vec 100 duplicates base vec 1; vec 101 points far away
    dup_of_1 = base_rows[0][1]
    far = [-1.0] * 8
    batch = spark.createDataFrame(
        [(100, dup_of_1), (101, far)],
        "vec_id long, embedding array<double>",
    )
    ab = SIM.assign_to_cells(batch, cents)
    cell_of_1 = {
        r.vec_id: r.cell for r in assigned.filter("vec_id = 1").collect()
    }[1]
    got = {r.vec_id: r.cell for r in ab.collect()}
    assert got[100] == cell_of_1  # identical vectors share a cell

    # cosine verify against base members of the assigned cell only
    b = assigned.select(
        "cell", F.col("vec_id").alias("bid"), F.col("embedding").alias("bv")
    )
    q = ab.select(
        "cell", F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    from clickhouse_forecasting_spark.functions.dedup import cosine_similarity

    hits = (
        q.join(b, "cell")
        .withColumn("cos", cosine_similarity(F.col("qv"), F.col("bv")))
        .filter(F.col("cos") >= 0.95)
        .groupBy("qid")
        .agg(F.max("cos").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    by_q = {r.qid: (r.n, r.mx) for r in hits}
    assert 100 in by_q and by_q[100][1] == 1.0  # exact dup rejected
    assert 101 not in by_q  # far vector admitted
