"""Round-9 advice/verdict pins: the session cache registry
(runtime_cache) — explicit release, hit-path rebuild from durable
artifacts, dispatch persists registered and bounded."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_forecasting_spark import runtime_cache as rc
from clickhouse_forecasting_spark.functions.dedup import numeric_signatures
from clickhouse_forecasting_spark.functions.similarity import ivf_exact_cells
from clickhouse_forecasting_spark.operators import ranking as RK
from clickhouse_forecasting_spark.operators.ranking import dispatch_small


@pytest.fixture()
def docs(spark):
    rows = [(i, f"document number {i} with some shared text body " * 3)
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture()
def emb(spark):
    rows = [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_release_drops_and_rebuilds_stage(docs):
    """A released cache key re-builds on next use (r8 VERDICT #4): the
    cached stage is the SAME object on a hit, a DIFFERENT (recomputed,
    value-identical) one after release."""
    token = "adv9-sig"
    a = numeric_signatures(docs, cache_key=token)
    b = numeric_signatures(docs, cache_key=token)
    assert b is a  # hit: one persisted stage
    n_before = a.count()
    dropped = rc.release(token)
    assert dropped >= 1
    assert all(token not in k for k in rc.entries())
    c = numeric_signatures(docs, cache_key=token)
    assert c is not a  # rebuilt, not resurrected
    assert c.count() == n_before
    rc.release(token)


def test_ivf_hit_path_rebuilds_assigned_frame_from_centroids(emb):
    """ADVICE r8 (similarity.py hit path): evicting the FRAME store entry
    while the trained centroids survive must NOT surface as a None frame —
    the hit path rebuilds the assignment from the centroids (train-free)."""
    token = "adv9-ivf"
    assigned1, cents1 = ivf_exact_cells(emb, n_cells=4, cache_key=token)
    rows1 = sorted((r.vec_id, r.cell) for r in assigned1.select("vec_id", "cell").collect())

    # simulate stage-cache eviction: drop ONLY the frame entries
    evicted = 0
    for k in [k for k in list(rc._FRAMES) if token in k]:
        rc._FRAMES.pop(k).unpersist()
        evicted += 1
    assert evicted >= 1
    assert any(token in k for k in rc._VALUES)  # centroids survive

    assigned2, cents2 = ivf_exact_cells(emb, n_cells=4, cache_key=token)
    assert cents2 == cents1  # no re-training happened (cached centroids)
    assert assigned2 is not None
    rows2 = sorted((r.vec_id, r.cell) for r in assigned2.select("vec_id", "cell").collect())
    assert rows2 == rows1
    rc.release(token)


def test_released_ivf_key_retrains(emb):
    """Full release drops BOTH artifacts; the next call re-trains and
    reproduces the same deterministic centroids."""
    token = "adv9-ivf-retrain"
    _, cents1 = ivf_exact_cells(emb, n_cells=4, cache_key=token)
    rc.release(token)
    assert all(token not in k for k in rc.entries())
    _, cents2 = ivf_exact_cells(emb, n_cells=4, cache_key=token)
    assert cents2 == cents1  # deterministic integer-Lloyd: retrain == train
    rc.release(token)


def test_dispatch_persists_are_registered_and_releasable(spark, monkeypatch):
    """ADVICE r8 (ranking.py): the routing persists register under the
    "dispatch" tag — observable via entries(), reused per distinct plan,
    dropped by release("dispatch"); the over-cap path leaves no entry."""
    df = spark.range(100).withColumn("g", F.col("id") % 5)
    before = sum(1 for k in rc.entries() if "dispatch" in k)
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 1000)
    assert dispatch_small(df) is True
    mid = sum(1 for k in rc.entries() if "dispatch" in k)
    assert mid == before + 1
    assert dispatch_small(df) is True  # same plan: same entry
    assert sum(1 for k in rc.entries() if "dispatch" in k) == mid
    dropped = rc.release("dispatch")
    assert dropped >= 1
    assert sum(1 for k in rc.entries() if "dispatch" in k) == 0

    big = spark.range(5000)
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", 10)
    assert dispatch_small(big) is False
    # over-cap (r12, ADVICE r11): the probe entry is KEPT — the
    # distributed fallback's repartitionByRange runs the input through
    # a sampler job AND the shuffle, and both read the materialized
    # probe frame via plan-cache substitution; it remains releasable
    assert sum(1 for k in rc.entries() if "dispatch" in k) == 1
    assert rc.release("dispatch") >= 1
    assert sum(1 for k in rc.entries() if "dispatch" in k) == 0
