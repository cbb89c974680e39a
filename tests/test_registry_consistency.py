"""Registry drift gates: every declared query must be oracled or on the
documented rows-only allowlist, and the generated artifacts must cover
the full registry."""

from __future__ import annotations

import os
import re

from clickhouse_forecasting_spark.queries import ORACLE_QUERIES, SPARK_QUERIES

# Every rows-only query needs BOTH a justification here and a hash-gated
# companion audit in the registry. Growing this list is a deliberate act.
ROWS_ONLY_ALLOWED = {
    # yhat/bounds come from the fourier_ridge surrogate's float least
    # squares (numpy/LAPACK iterative kernels whose summation order is
    # not SQL-replayable bit-for-bit); every SQL-expressible invariant —
    # date axis, row counts, column contract, bound ordering — is
    # hash-gated by the *_contract_audit twin of each shape:
    "forecast_daily_sales",
    "forecast_only_future",
    "forecast_multi_table",
    "forecast_incremental",
    "forecast_backtest",
    # output column `frame_payload` is BINARY (raw sampled media frame
    # bytes): the driver's canonical value-hash stringifies columns, and
    # Spark/DuckDB render binary differently, so the frame rows cannot
    # hash cross-engine; the slicing LOGIC is hash-gated by
    # multimodal_frames_audit (md5 checksum + byte length of the SAME
    # frames, replayed in DuckDB with substr/md5):
    "multimodal_frames",
    # 2,500-series fan-out proof (yhat is LAPACK float model output as
    # above; shape hash-gated by forecast_scale_contract_audit):
    "forecast_scale_series",
    # 60k-doc LSH scale proof (DuckDB's single-threaded replay of the full
    # minhash pipeline at 60k is gate-hostile; the identical dataflow is
    # hash-gated at 2k by dedup_scale_contract_audit):
    "dedup_scale_audit",
    # 30k-vector hyperplane-LSH scale proof (same rationale; identical
    # dataflow hash-gated at 2k by ann_scale_contract_audit):
    "ann_scale_audit",
    # 30k-vector balanced-cell (IVF-style) contrast proof (hash-gated at
    # 2k by ann_grid_scale_contract_audit):
    "ann_grid_scale_audit",
    # 30k-vector LEARNED-cell scale proof (integer-Lloyd IVF; identical
    # dataflow hash-gated at 2k by ann_ivf_scale_contract_audit — the
    # 30k DuckDB replay crosses 240 cells × 30k argmin rows, gate-hostile):
    "ann_ivf_scale_audit",
    # 10,000-fit backtest fan-out proof (scores are LAPACK float model
    # output as above; shape hash-gated by
    # forecast_backtest_scale_contract_audit):
    "forecast_backtest_scale",
}


def test_every_query_is_oracled_or_allowlisted():
    rows_only = set(SPARK_QUERIES) - set(ORACLE_QUERIES)
    assert rows_only == ROWS_ONLY_ALLOWED, (
        f"unexpected rows-only: {sorted(rows_only - ROWS_ONLY_ALLOWED)}; "
        f"stale allowlist: {sorted(ROWS_ONLY_ALLOWED - rows_only)}"
    )


def test_every_rows_only_query_has_a_companion_audit():
    companions = {
        "forecast_daily_sales": "forecast_contract_audit",
        "forecast_only_future": "forecast_future_contract_audit",
        "forecast_multi_table": "forecast_multi_contract_audit",
        "forecast_incremental": "forecast_incremental_contract_audit",
        "forecast_backtest": "forecast_backtest_contract_audit",
        "multimodal_frames": "multimodal_frames_audit",
        "forecast_scale_series": "forecast_scale_contract_audit",
        "dedup_scale_audit": "dedup_scale_contract_audit",
        "ann_scale_audit": "ann_scale_contract_audit",
        "ann_grid_scale_audit": "ann_grid_scale_contract_audit",
        "ann_ivf_scale_audit": "ann_ivf_scale_contract_audit",
        "forecast_backtest_scale": "forecast_backtest_scale_contract_audit",
    }
    assert set(companions) == ROWS_ONLY_ALLOWED
    for rows_only, audit in companions.items():
        assert audit in ORACLE_QUERIES, (rows_only, audit)


def test_oracles_reference_declared_queries_only():
    stray = set(ORACLE_QUERIES) - set(SPARK_QUERIES)
    assert not stray, f"oracle entries without a Spark query: {sorted(stray)}"


def test_plans_census_covers_registry():
    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    text = open(path).read()
    listed = set(re.findall(r"^\| (\w+) \|", text, flags=re.M)) - {"query"}
    missing = set(SPARK_QUERIES) - listed
    assert not missing, f"queries missing from PLANS.md: {sorted(missing)}"


def test_no_shadowed_oracle_sql_definitions():
    """A second module-level `_X_SQL = ` definition silently rewires every
    registry entry bound to the first (this bit funnel_conversion when a
    curation query reused the `_FUNNEL_SQL` name) — pin uniqueness. Since
    the r8 split, the queries package executes every part file into ONE
    shared namespace, so the scan covers the parts' CONCATENATION in
    execution order (a duplicate across two part files shadows exactly
    like a duplicate within one), plus duplicate module-level `def`s —
    the same last-wins hazard for helpers and q_ functions."""
    import re

    from clickhouse_forecasting_spark.queries import _PARTS

    src = "".join(
        open(os.path.join(_queries_dir(), p + ".py")).read() for p in _PARTS
    )
    names = re.findall(r"^(_[A-Z0-9_]+_SQL) = ", src, re.M)
    dups = sorted({n for n in names if names.count(n) > 1})
    assert dups == [], f"shadowed oracle SQL variables: {dups}"
    defs = re.findall(r"^def ([A-Za-z_][A-Za-z0-9_]*)\(", src, re.M)
    ddups = sorted({n for n in defs if defs.count(n) > 1})
    assert ddups == [], f"shadowed module-level defs: {ddups}"


def _queries_dir() -> str:
    import clickhouse_forecasting_spark.queries as q

    return os.path.dirname(q.__file__)


def test_profile_columns_match_fixture_schema():
    """The profile query and its DuckDB twin share _PROFILE_COLUMNS; this
    pin catches the orders fixture growing/renaming a column (the oracle
    would silently miss it otherwise — advisor finding r1)."""
    import glob

    import pyarrow.parquet as pq

    from clickhouse_forecasting_spark.queries import _PROFILE_COLUMNS

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    files = glob.glob(os.path.join(sf_dir, "orders.parquet")) or glob.glob(
        os.path.join(sf_dir, "orders.parquet", "*.parquet")
    )
    assert files, f"no orders fixture under {sf_dir}"
    assert list(pq.read_schema(files[0]).names) == _PROFILE_COLUMNS


def test_no_direct_part_module_imports():
    """The queries part files are real importable modules with explicit
    imports, but the package's public surface is `queries` itself: its
    loader merges every part's names into one namespace and builds
    SPARK_QUERIES from the parts' `q_` functions. Pin the convention
    that callers go through that surface: nothing outside the package
    imports `queries.<part>` directly."""
    import glob
    import re as _re

    from clickhouse_forecasting_spark.queries import _PARTS

    root = os.path.join(os.path.dirname(__file__), "..")
    offenders = []
    pat = _re.compile(
        r"queries\.(" + "|".join(_re.escape(p) for p in _PARTS) + r")\b"
    )
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        if os.sep + "queries" + os.sep in path:
            continue  # the loader itself names its parts
        for i, line in enumerate(open(path).read().splitlines(), 1):
            if ("import" in line) and pat.search(line):
                offenders.append(f"{path}:{i}: {line.strip()}")
    assert offenders == [], offenders
