"""Round-12 optimization pins.

1. The sessionizer state-bound replay pins its state-shuffle width to
   the TTL-bounded state scale (streaming.replay.pinned_state_partitions,
   VERDICT r11 #6) — the width must not change WHAT is emitted, and the
   session-wide shuffle-partitions setting must be restored afterwards.
   The expected row is computed from the corpus constants (the same
   literals the DuckDB twin uses), so a width-dependent drop/double-emit
   breaks the equality, not just a self-comparison.
2. connected_components_star frees each round's large-star intermediate
   once the round's result is materialized (ADVICE r11): after the call
   no persisted RDDs attributable to the call may remain.
3. encoding_advisor_lineitem's footer key bounds fold across EVERY file
   of a multi-file lineitem.parquet/ directory (the single-file read
   returned None there and silently fell back to the sampler route),
   and the advisor's rows are unchanged by the split.  A footer without
   statistics returns None, and the advisor logs its fallback to the
   sampled ranged route and still returns the same rows.
4. stream_lateness_profile's CDF fold in its worst case: every lateness
   value distinct, so the distinct-value frame is fact-grain and the
   dispatch cap routes it to the ranged machinery; the result (and the
   empty-table result) equals the DuckDB twin.
"""

from __future__ import annotations

import logging
import os

from clickhouse_forecasting_spark.operators.graph import (
    connected_components_star,
)


def test_state_bound_audit_state_parts_invariant(spark, sf_dir, monkeypatch):
    from clickhouse_forecasting_spark import queries as _q

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "3")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    row = _q.q_streaming_state_bound_audit(spark, sf_dir).collect()[0]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # cohort A (2000 users): day-1 only — 10:00/10:10/12:00 = 2 sessions,
    # 3 events; cohort B (2000): + day-5 pair (1 session) + day-6 single
    # (1 session) = 4 sessions, 6 events; TTL evicts A by the final batch
    assert (
        row.n_users,
        row.total_sessions,
        row.total_events,
        row.state_rows_final,
        row.state_rows_all_time,
    ) == (4000, 2000 * 2 + 2000 * 4, 2000 * 3 + 2000 * 6, 2000, 4000)


def test_components_star_releases_round_intermediates(spark):
    jsc = spark.sparkContext._jsc
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)]  # one 41-node chain
        + [(100, 101), (101, 102)],
        "id_a int, id_b int",
    )
    before_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    comps, rounds = connected_components_star(edges)
    got = {r.id: r.component for r in comps.collect()}
    assert rounds >= 2  # multi-round: intermediates existed and were freed
    assert got[40] == 0 and got[102] == 100
    after_ids = {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}
    leaked = after_ids - before_ids
    # live by design: the initial edge checkpoint (the returned frame
    # recomputes `nodes` from it) and the final round's checkpoint (it
    # IS the converged edge set the frame joins). Every per-round half
    # persist and superseded round checkpoint must be released
    # synchronously — with >= 2 rounds the r11 code left >= 2 extra.
    assert len(leaked) <= 2, f"round intermediates leaked: {leaked}"


def _info_records(caplog, prefix: str) -> list[str]:
    return [
        r.getMessage() for r in caplog.records
        if r.name == "clickhouse_forecasting_spark"
        and r.getMessage().startswith(prefix)
    ]


def _star_copy(sf_dir, dest, replace: str):
    """``dest`` holding symlinks to every table of ``sf_dir`` except
    ``replace``, which the caller writes."""
    dest.mkdir()
    for name in os.listdir(sf_dir):
        if name != replace:
            os.symlink(os.path.join(sf_dir, name), dest / name)
    return dest


def test_key_bounds_fold_multi_file_dataset(spark, sf_dir, tmp_path, caplog):
    import pyarrow.parquet as pq

    from clickhouse_forecasting_spark import queries as _q
    from clickhouse_forecasting_spark.queries import _parquet_key_bounds

    src = os.path.join(sf_dir, "lineitem.parquet")
    table = pq.read_table(src).sort_by("l_orderkey")
    keys = table.column("l_orderkey").to_pylist()
    # a copy of the star whose lineitem is a 2-file dataset directory,
    # split so neither file alone holds both bounds
    split_dir = _star_copy(sf_dir, tmp_path / "sf", "lineitem.parquet")
    li_dir = split_dir / "lineitem.parquet"
    li_dir.mkdir()
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), li_dir / "part-00000.parquet")
    pq.write_table(table.slice(half), li_dir / "part-00001.parquet")
    (li_dir / "_SUCCESS").touch()

    assert _parquet_key_bounds(src, "l_orderkey") == (min(keys), max(keys))
    assert _parquet_key_bounds(str(li_dir), "l_orderkey") == (
        min(keys), max(keys))
    assert _parquet_key_bounds(str(li_dir), "no_such_column") is None

    def rows(d):
        return sorted(
            _q.q_encoding_advisor_lineitem(spark, str(d)).collect())

    want = rows(sf_dir)
    assert rows(split_dir) == want

    # a footer without statistics: no bounds, the advisor logs its
    # fallback to the sampled ranged route and returns the same rows
    nostats_dir = _star_copy(sf_dir, tmp_path / "nostats", "lineitem.parquet")
    nostats = nostats_dir / "lineitem.parquet"
    pq.write_table(table, nostats, write_statistics=False)
    assert _parquet_key_bounds(str(nostats), "l_orderkey") is None
    caplog.set_level(logging.INFO, logger="clickhouse_forecasting_spark")
    caplog.clear()
    assert rows(nostats_dir) == want
    assert len(_info_records(caplog, "encoding_advisor_lineitem:")) == 1


def test_lateness_cdf_distinct_worst_case(spark, tmp_path, monkeypatch, caplog):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_forecasting_spark import queries as _q
    from clickhouse_forecasting_spark.operators import ranking as RK
    from clickhouse_forecasting_spark.queries import _LATENESS_SQL

    n = 40
    t0 = 1_700_000_000_000_000
    # event 0 carries the latest timestamp, so event i arrives i * 7 s
    # late: n distinct lateness values, some of them over 60 s
    cases = {"distinct": [t0 - i * 7_000_000 for i in range(n)], "empty": []}
    monkeypatch.setattr(RK, "FASTPATH_MAX_ROWS", n - 1)
    caplog.set_level(logging.INFO, logger="clickhouse_forecasting_spark")
    for name, us in cases.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array(range(len(us)), pa.int64()),
                "ts": pa.array(us, pa.timestamp("us")),
            }),
            d / "events.parquet",
        )
        caplog.clear()
        got = [tuple(r) for r in _q.q_stream_lateness_profile(spark, str(d)).collect()]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
        assert got == con.execute(_LATENESS_SQL).fetchall(), name
        route = "distributed" if us else "fast"
        assert _info_records(caplog, "dispatch:") == [
            f"dispatch: caller=global_running_sum rows={len(us)} cap={n - 1}"
            f" route={route}"
        ], name
