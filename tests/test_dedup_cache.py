"""The dedup family's shared-stage cache: one corpus pass per run."""

from __future__ import annotations

from clickhouse_forecasting_spark.functions import dedup as DD
from clickhouse_forecasting_spark.sources import read_table


def test_banded_signatures_cache_reuses_persisted_stage(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    a = DD.banded_signatures(docs, cache_key="t-cache")
    b = DD.banded_signatures(docs, cache_key="t-cache")
    assert a is b  # same persisted DataFrame, not a rebuilt plan
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    # no cache_key -> a fresh plan object (Spark's CacheManager may still
    # serve it from the persisted stage via plan matching — that's the
    # desired behavior, so storage level is not asserted here)
    d = DD.banded_signatures(docs)
    assert d is not a


def test_shared_stage_results_identical_to_uncached(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    cached = DD.lsh_verified_pairs(docs, threshold=0.8, cache_key="t-eq")
    fresh = DD.lsh_verified_pairs(docs, threshold=0.8)
    got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in cached.collect()}
    want = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in fresh.collect()}
    assert got == want and got


def test_band_occupancy_guard_fails_loudly_on_degenerate_corpus(spark):
    """One hot band bucket (near-constant docs) is an in-bucket n² —
    the candidate join must REFUSE to run it (in-plan assert_true),
    never silently explode. Mirrors the SemDeDup cluster bound."""
    import pytest
    from pyspark.sql.utils import PythonException

    from clickhouse_forecasting_spark.functions import dedup as DD

    same = [(i, "the exact same degenerate text repeated verbatim") for i in range(60)]
    docs = spark.createDataFrame(same, "doc_id long, text string")
    cand = DD.minhash_lsh_candidates(docs, max_band_occupancy=50)
    with pytest.raises(Exception) as exc:
        cand.count()
    assert "occupancy bound" in str(exc.value)


def test_band_occupancy_guard_passes_healthy_corpus(spark, sf_dir):
    from clickhouse_forecasting_spark.functions import dedup as DD

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = DD.minhash_lsh_candidates(docs).count()
    assert n >= 0  # guard silent on healthy occupancy
