"""Round-11 ADVICE regression pins:

1. SeriesForecaster.backtest accepts string-ds and timestamp-ds long
   frames: predictions merge on normalized datetime64 keys, so the
   metrics match the DateType-ds run instead of silently scoring zero
   rows (string ds) or raising in the worker (timestamp ds).
2. _pagerank_bounded matches the distributed loop's NULL-frac semantics:
   an edge whose normalized fraction is SQL NULL (NULL weight) is
   dropped, not crashed on (float(None) TypeError) — both paths degrade
   identically.
3. pagerank(max_driver_nodes=0) on an empty graph does not leak a
   persisted empty-nodes frame.
4. runtime_cache survives concurrent cached_frame/release from several
   driver threads without "dictionary changed size during iteration" or
   lost entries.
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest
from pyspark.sql import functions as F

from clickhouse_forecasting_spark import runtime_cache
from clickhouse_forecasting_spark.forecast import SeriesForecaster
from clickhouse_forecasting_spark.operators.graph import pagerank


def _constant_long(spark, ds_type: str):
    rows = [
        (f"m{s}", dt.date(2024, 1, 1) + dt.timedelta(days=i), 10.0 + s)
        for s in range(4)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "metric string, ds date, y double")
    if ds_type == "string":
        return df.withColumn("ds", F.col("ds").cast("string"))
    if ds_type == "timestamp":
        return df.withColumn("ds", F.col("ds").cast("timestamp"))
    return df


@pytest.mark.parametrize("ds_type", ["string", "timestamp"])
def test_backtest_normalizes_ds_merge_keys(spark, ds_type):
    """ADVICE r11 #1: string/timestamp ds must score the SAME cells as
    the DateType run — constant series, so every metric is exact."""
    cutoffs = ["2024-01-10", "2024-01-15"]
    fc = SeriesForecaster(interval=3, only_future=True)
    want = {
        (r.metric, r.cutoff): r
        for r in fc.backtest(_constant_long(spark, "date"), cutoffs).collect()
    }
    got = {
        (r.metric, r.cutoff): r
        for r in fc.backtest(_constant_long(spark, ds_type), cutoffs).collect()
    }
    assert set(got) == set(want) and len(want) == 4 * 2
    for key, w in want.items():
        g = got[key]
        assert g.n_scored == w.n_scored > 0
        assert g.mae == pytest.approx(w.mae, abs=1e-12)
        assert g.rmse == pytest.approx(w.rmse, abs=1e-12)
        assert g.coverage == pytest.approx(w.coverage, abs=1e-12)


def test_pagerank_null_frac_edges_match_across_paths(spark):
    """ADVICE r11 #2: a NULL-weight edge yields a NULL normalized frac;
    the distributed sum drops it silently, and the bounded driver path
    must do the same instead of raising TypeError on float(None)."""
    edges = [
        (0, 1, 2.0),
        (1, 2, 1.0),
        (2, 0, 1.0),
        (0, 2, None),  # NULL weight -> NULL frac for this edge
        (3, 0, None),  # src 3: ALL weights NULL -> out_w NULL -> NULL frac
    ]
    df = spark.createDataFrame(edges, "src int, dst int, volume double")
    fast = {
        r.node: r.rank
        for r in pagerank(df).collect()
    }
    dist = {
        r.node: r.rank
        for r in pagerank(
            df, max_driver_nodes=0
        ).collect()
    }
    assert set(fast) == set(dist) == {0, 1, 2, 3}
    for v in dist:
        assert fast[v] == pytest.approx(dist[v], abs=1e-12)


def test_pagerank_forced_distributed_empty_graph_no_persist_leak(spark):
    """ADVICE r11 #4: the n == 0 early return of the forced-distributed
    path must not leave the nodes frame persisted for the session.

    Assert on the DELTA of persistent-RDD ids created by this call, not
    the absolute registry size: in a shared-session suite other tests'
    frames may still be draining through the async ContextCleaner, so an
    absolute-size pin races their unpersist work (driver VERIFY flake in
    round 11)."""
    jsc = spark.sparkContext._jsc
    empty = spark.createDataFrame([], "src int, dst int, volume double")
    before_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    out = pagerank(empty, max_driver_nodes=0)
    assert out.count() == 0
    after_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    leaked = after_ids - before_ids
    assert not leaked, f"pagerank call leaked persistent RDD ids {leaked}"


def test_runtime_cache_concurrent_register_and_release(spark):
    """ADVICE r11 #3: hammer cached_frame + release from threads — the
    locked registry must not raise or strand entries."""
    base = spark.range(1)
    errors: list[BaseException] = []

    def worker(tag: str) -> None:
        try:
            for i in range(40):
                key = ("r11race", tag, i)
                got = runtime_cache.cached_frame(
                    base, key, lambda: base.selectExpr("id + 1 AS v")
                )
                assert got is not None
                if i % 7 == 0:
                    runtime_cache.release(tag)
                runtime_cache.cap_family("r11race", 16)
        except BaseException as exc:  # noqa: BLE001 - recorded for the assert
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(f"t{j}",)) for j in range(6)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    dropped = runtime_cache.release("r11race")
    assert dropped <= 16 * 6
    assert not [k for k in runtime_cache.entries() if "r11race" in k]
