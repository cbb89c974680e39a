"""PageRank operator: parity with a numpy power-iteration reference and
structural invariants (mass conservation, dangling handling).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from clickhouse_forecasting_spark.operators.graph import pagerank


def _numpy_pagerank(edges, n_ids, iters, damping):
    ids = sorted(n_ids)
    pos = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out_w = {}
    for s, d, w in edges:
        out_w[s] = out_w.get(s, 0.0) + w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - damping) / n)
        dangling = sum(r[pos[v]] for v in ids if v not in out_w)
        nxt += damping * dangling / n
        for s, d, w in edges:
            nxt[pos[d]] += damping * r[pos[s]] * (w / out_w[s])
        r = nxt
    return {v: r[pos[v]] for v in ids}


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [
        (0, 1, 2.0),
        (0, 2, 1.0),
        (1, 2, 1.0),
        (2, 0, 1.0),
        (3, 2, 5.0),  # node 3 has no in-edges
        (2, 4, 1.0),  # node 4 is dangling (no out-edges)
    ]
    df = spark.createDataFrame(edges, "src int, dst int, volume double")
    got = {
        r.node: r.rank
        for r in pagerank(df).collect()
    }
    want = _numpy_pagerank(edges, {0, 1, 2, 3, 4}, 10, 0.85)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_distributed_path_matches_numpy(spark):
    """The distributed loop (forced: max_driver_nodes=0), including the
    dangling-mass branch and its per-round persist (ADVICE r9), against
    the numpy reference — the bounded-dispatch rewrite must not change
    the in-plan algebra."""
    edges = [
        (0, 1, 2.0),
        (0, 2, 1.0),
        (1, 2, 1.0),
        (2, 0, 1.0),
        (3, 2, 5.0),
        (2, 4, 1.0),  # node 4 dangling
    ]
    df = spark.createDataFrame(edges, "src int, dst int, volume double")
    got = {
        r.node: r.rank
        for r in pagerank(
            df, max_driver_nodes=0
        ).collect()
    }
    want = _numpy_pagerank(edges, {0, 1, 2, 3, 4}, 10, 0.85)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_bounded_dispatch_matches_distributed(spark):
    """Fast path vs distributed loop on the SAME dangling-bearing graph:
    values agree to 1e-12 (cross-row sum reassociation only — far inside
    the 6dp rounding every consumer applies), and the fast path's result
    is a local relation (no iterative jobs behind it)."""
    edges = [(i % 7, (i * 3) % 7, float(1 + i % 5)) for i in range(25)]
    edges.append((8, 0, 1.0))
    edges.append((0, 9, 1.0))  # 9 is dangling (never a src)
    df = spark.createDataFrame(edges, "src int, dst int, volume double")
    fast = {
        r.node: r.rank for r in pagerank(df).collect()
    }
    dist = {
        r.node: r.rank
        for r in pagerank(
            df, max_driver_nodes=0
        ).collect()
    }
    assert set(fast) == set(dist)
    for v in dist:
        assert fast[v] == pytest.approx(dist[v], abs=1e-12)


def test_pagerank_bounded_dispatch_routes_by_size(spark, monkeypatch):
    """Routing probe: under the caps the driver power iteration runs;
    over either cap (edge count here) the distributed loop runs instead.
    Both give the same values."""
    from clickhouse_forecasting_spark.operators import graph as G

    calls: list[int] = []
    orig = G._pagerank_bounded

    def spy(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(G, "_pagerank_bounded", spy)
    edges = [(i, (i + 1) % 6, 1.0) for i in range(6)]
    df = spark.createDataFrame(edges, "src int, dst int, volume double")
    fast = pagerank(df)
    assert len(calls) == 1
    slow = pagerank(df, max_driver_edges=2)
    assert len(calls) == 1  # over the edge cap: bounded path NOT taken
    got_f = {r.node: r.rank for r in fast.collect()}
    got_s = {r.node: r.rank for r in slow.collect()}
    for v in got_s:
        assert got_f[v] == pytest.approx(got_s[v], abs=1e-12)


def test_pagerank_uniform_on_symmetric_cycle(spark):
    cyc = [(i, (i + 1) % 4, 1.0) for i in range(4)]
    df = spark.createDataFrame(cyc, "src int, dst int, volume double")
    ranks = [r.rank for r in pagerank(df).collect()]
    for r in ranks:
        assert r == pytest.approx(0.25, abs=1e-12)


def test_pagerank_trade_graph_query(spark, sf_dir):
    res = entry.queries()["pagerank_trade_graph"](spark, sf_dir).collect()
    assert len(res) == 25  # every nation trades
    total = sum(r.rank for r in res)
    assert total == pytest.approx(1.0, abs=1e-4)  # 6dp rounding slack
    assert all(r.rank > 0 for r in res)


# --------------------------------------------------- star CC (round 4)


def test_star_cc_matches_label_propagation_on_random_graph(spark):
    """Two independent algorithms, one answer: on a deterministic
    pseudo-random graph the star components must equal the label-
    propagation components node-for-node."""
    import random

    from clickhouse_forecasting_spark.functions.dedup import (
        connected_components,
    )
    from clickhouse_forecasting_spark.operators.graph import (
        connected_components_star,
    )

    rng = random.Random(42)
    edges = sorted({
        tuple(sorted((rng.randrange(200), rng.randrange(200))))
        for _ in range(150)
    })
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star, _ = connected_components_star(pairs)
    # the graph's giant component has diameter > 20, so LP needs a
    # bigger round budget (with the default it now FAILS LOUDLY — see
    # test_label_propagation_refuses_unconverged below)
    lp = connected_components(pairs, max_iterations=100)
    got = {r.id: r.component for r in star.collect()}
    want = {r.id: r.component for r in lp.collect()}
    assert got == want and len(got) > 50


def test_label_propagation_refuses_unconverged(spark):
    """r4 hardening regression pin: LP on a chain longer than its round
    budget must raise (it used to return silently-wrong labels), and
    the error must point at the logarithmic operator."""
    import pytest

    from clickhouse_forecasting_spark.functions.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="connected_components_star"):
        connected_components(pairs, max_iterations=10)


def test_star_cc_collapses_chains_logarithmically(spark):
    """THE scale property: a 64-hop chain converges in ~log2 rounds,
    not one round per hop."""
    from clickhouse_forecasting_spark.operators.graph import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    comps, rounds = connected_components_star(pairs)
    assert all(r.component == 0 for r in comps.collect())
    assert rounds <= 10, f"64-chain took {rounds} rounds (expected ~7)"


def test_star_cc_handles_self_loops_and_singletons(spark):
    from clickhouse_forecasting_spark.operators.graph import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (7, 8), (8, 7)], "id_a long, id_b long"
    )
    comps, _ = connected_components_star(pairs)
    got = {r.id: r.component for r in comps.collect()}
    # self-loop-only node 5 never enters the edge list -> absent, same
    # contract as the LP operator (components of PAIRED ids)
    assert got == {1: 1, 2: 1, 7: 7, 8: 7}


def test_star_cc_refuses_unconverged(spark):
    """ADVICE r4: star CC must raise when the edge signature is still
    changing at round-budget exhaustion — residual non-star edges would
    otherwise emit conflicting (id, component) rows per id (the same
    silent-wrong-labels class the LP variant was hardened against)."""
    import pytest

    from clickhouse_forecasting_spark.operators.graph import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components_star(pairs, max_rounds=2)
