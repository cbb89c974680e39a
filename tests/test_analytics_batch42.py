"""Round-3 wave 7: directional as-of joins (merge_asof parity) and
content-defined chunking dedup. Operator-level synthetic checks plus
pure-Python recomputes."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from datetime import datetime

import pytest

from clickhouse_forecasting_spark.operators.asof import asof_join_directional
from clickhouse_forecasting_spark.queries import SPARK_QUERIES
from clickhouse_forecasting_spark.sources import read_table


@pytest.fixture(scope="module")
def qs():
    return SPARK_QUERIES


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def tiny(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-10T12:00:00"), 100),
         (1, _ts("2024-01-20T00:00:00"), 101),
         (2, _ts("2024-01-05T00:00:00"), 102)],
        "user_id int, ts timestamp, lid int",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-10T11:00:00"), 7),
         (1, _ts("2024-01-10T13:30:00"), 8),
         (1, _ts("2024-01-01T00:00:00"), 9),
         (2, _ts("2024-02-01T00:00:00"), 10)],
        "user_id int, ts timestamp, rid int",
    )
    return left, right


def test_asof_directional_backward_forward_nearest(tiny):
    left, right = tiny
    back = {r.lid: r.m for r in asof_join_directional(
        left, right, "ts", "ts", "rid",
        direction="backward", out_col="m").collect()}
    assert back == {100: 7, 101: 8, 102: None}
    fwd = {r.lid: r.m for r in asof_join_directional(
        left, right, "ts", "ts", "rid",
        direction="forward", out_col="m").collect()}
    assert fwd == {100: 8, 101: None, 102: 10}
    near = {r.lid: r.m for r in asof_join_directional(
        left, right, "ts", "ts", "rid",
        direction="nearest", out_col="m").collect()}
    # lid=100: backward gap 1h < forward gap 1.5h -> 7
    assert near == {100: 7, 101: 8, 102: 10}


def test_asof_directional_tie_prefers_backward(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-10T12:00:00"), 1)], "user_id int, ts timestamp, lid int"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-10T11:00:00"), 5),
         (1, _ts("2024-01-10T13:00:00"), 6)],
        "user_id int, ts timestamp, rid int",
    )
    near = asof_join_directional(
        left, right, "ts", "ts", "rid",
        direction="nearest", out_col="m").collect()[0]
    assert near.m == 5  # equal 1h gaps -> backward wins


def test_asof_join_directions_consistency(spark, sf_dir, qs):
    r = qs["asof_join_directions"](spark, sf_dir).collect()[0]
    assert r.n_nearest_1h <= r.n_purchases
    assert r.n_nearest_took_backward <= r.n_nearest_1h
    # nearest-with-tolerance can only match where SOME direction matched
    assert r.n_nearest_1h <= max(r.n_backward, r.n_forward)
    assert r.n_backward > 0 and r.n_forward > 0


def test_cdc_chunk_dedup_matches_python(spark, sf_dir, qs):
    out = {r.source: r for r in
           qs["cdc_chunk_dedup"](spark, sf_dir).collect()}
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text").collect()
    chunks_by_source = defaultdict(list)
    docs_by_hash = defaultdict(set)
    for d in docs:
        t = [x for x in re.split("[^a-z0-9]+", d.text.lower()) if x]
        n = len(t)
        bnds = []
        if n >= 3:
            for i in range(3, n + 1):
                tri = " ".join(t[i - 3:i])
                h = int(hashlib.md5(tri.encode()).hexdigest()[:8], 16) % 16
                if h == 0:
                    bnds.append(i)
        starts = [1] + [b + 1 for b in bnds]
        ends = bnds + [n]
        for s, e in zip(starts, ends):
            chunk = " ".join(t[s - 1:e])
            if chunk:
                h = hashlib.md5(chunk.encode()).hexdigest()
                chunks_by_source[d.source].append(h)
                docs_by_hash[h].add(d.doc_id)
    assert set(out) == set(chunks_by_source)
    for src, hs in chunks_by_source.items():
        r = out[src]
        assert r.n_chunks == len(hs)
        assert r.n_distinct == len(set(hs))
        assert r.dup_ppm == (len(hs) - len(set(hs))) * 1000000 // len(hs)
        assert r.n_hashes_multi_doc == sum(
            1 for h in set(hs) if len(docs_by_hash[h]) >= 2
        )
