"""Round-10 ADVICE + VERDICT regression pins:

1. dispatch_small releases by EXACT key — a semanticHash that equals an
   integer parameter embedded in another family's cache key must not
   unpersist that family's stage (ADVICE r9 #1).
2. The dispatch family is FIFO-capped in production — a session running
   many distinct dispatch-enabled plans stays bounded without any caller
   invoking release() (ADVICE r9 #4).
3. batched_fit_predict_long survives a partition whose whole-frame prep
   is poisoned by ONE series: the bad series fails alone, co-located
   series still forecast (ADVICE r9 #3, M4 contract for direct callers).
4. run_forecast_pipeline leaves runtime_cache entries keyed by its
   tables' names in place (r9 VERDICT #6).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import Row

from clickhouse_forecasting_spark import runtime_cache


def _app_entries(spark):
    app = spark.sparkContext.applicationId
    return [k for k in runtime_cache.entries() if k[0] == app]


def test_dispatch_overcap_keeps_own_entry_spares_other_family(spark, monkeypatch):
    """A foreign-family frame whose key embeds the SAME integer as the
    dispatch probe's semanticHash must survive an over-cap dispatch
    (ADVICE r9: bare-token release matched the hash at any position).
    Since r12 (ADVICE r11) the over-cap probe entry is KEPT as well: the
    distributed fallback's repartitionByRange executes the input twice
    (sampler + shuffle) and the materialized probe frame feeds both via
    plan-cache substitution instead of being thrown away."""
    from clickhouse_forecasting_spark.operators import ranking as R

    monkeypatch.setattr(R, "FASTPATH_MAX_ROWS", 10)
    df = spark.range(100).withColumnRenamed("id", "v")
    h = int(df._jdf.queryExecution().analyzed().semanticHash())
    foreign_key = ("ivfcells", "corpus-x", h)  # h at a non-tag position
    runtime_cache.cached_frame(df, foreign_key, lambda: df.limit(5))
    try:
        assert R.dispatch_small(df) is False  # 100 > 10: over cap
        app = spark.sparkContext.applicationId
        keys = _app_entries(spark)
        assert (app, *foreign_key) in keys, "foreign entry was dropped"
        assert (app, "dispatch", h) in keys, (
            "over-cap probe entry must be kept for the distributed "
            "fallback's sampler+shuffle reuse"
        )
    finally:
        # tokens only this test creates: the foreign corpus tag and the
        # probe's plan hash
        runtime_cache.release("corpus-x")
        runtime_cache.release(h)


def test_dispatch_family_capped_fifo(spark):
    """More distinct dispatch-enabled plans than DISPATCH_CACHE_MAX: the
    family stays at the cap, oldest entries evicted first."""
    from clickhouse_forecasting_spark.operators import ranking as R

    runtime_cache.release("dispatch")
    hashes = []
    for i in range(R.DISPATCH_CACHE_MAX + 5):
        df = spark.range(i + 1).selectExpr(f"id + {i} AS v{i}")
        hashes.append(int(df._jdf.queryExecution().analyzed().semanticHash()))
        assert R.dispatch_small(df) is True
    try:
        live = [k for k in _app_entries(spark) if "dispatch" in k]
        assert len(live) == R.DISPATCH_CACHE_MAX
        # the five oldest are gone, the newest five present
        live_hashes = {k[-1] for k in live}
        assert not (set(hashes[:5]) & live_hashes)
        assert set(hashes[-5:]) <= live_hashes
    finally:
        runtime_cache.release("dispatch")


def test_batched_prep_poisoned_partition_fails_alone():
    """Object-dtype frame: one series with an unparseable ds string, one
    clean series, SAME partition frame. The clean series must still come
    back with its full axis; the poisoned one contributes no rows."""
    from clickhouse_forecasting_spark.forecast.model import (
        batched_fit_predict_long,
    )

    good_ds = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(10)]
    pdf = pd.DataFrame(
        {
            "metric": ["bad"] * 10 + ["good"] * 10,
            # object-dtype ds with one unparseable value: the whole-frame
            # pd.to_datetime raises, which used to fail BOTH series
            "ds": (["not-a-date"] + [str(d) for d in good_ds[1:]])
            + [str(d) for d in good_ds],
            "y": [1.0] * 10 + [float(i) for i in range(10)],
        }
    )
    out = batched_fit_predict_long(pdf, ["metric"], periods=3)
    got = set(out["metric"])
    assert "good" in got, "clean co-located series lost its forecast"
    assert "bad" not in got, "poisoned series should contribute no rows"
    assert len(out[out["metric"] == "good"]) == 13  # 10 history + 3 future


def test_pipeline_preserves_cache_entries(spark, tmp_path):
    """3-table run: cache entries keyed by the tables' names survive it."""
    from clickhouse_forecasting_spark.catalog import ParquetCatalog
    from clickhouse_forecasting_spark.pipeline import run_forecast_pipeline

    cat = ParquetCatalog(spark, str(tmp_path))
    tables = ["t_alpha", "t_beta", "t_gamma"]
    for t in tables:
        cat.write_table(
            spark.createDataFrame(
                [
                    Row(
                        date=dt.date(2024, 1, 1) + dt.timedelta(days=i),
                        m=float(i),
                    )
                    for i in range(30)
                ]
            ),
            t,
        )

    for t in tables:
        runtime_cache.cached_frame(spark.range(1), ("stage", t), lambda: spark.range(3))
    try:
        counters = run_forecast_pipeline(
            cat, 5, specific_tables=tables, backend="fourier_ridge",
        )
        assert sorted(counters.successful) == sorted(tables)
        app = spark.sparkContext.applicationId
        assert all((app, "stage", t) in runtime_cache.entries() for t in tables), (
            "the run must PRESERVE cache entries (bench cache hits)"
        )
    finally:
        runtime_cache.release("stage")
