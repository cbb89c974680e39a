"""Round-8 ADVICE regression tests.

- with_ntile_from_rn must escape embedded backticks (injection fix).
- _assign_cells_arrow's float64 exactness now has an in-plan guard
  (similarity._exactness_guard) wrapping the cell join key — positive
  path unchanged, oversized magnitudes fail loudly.
- The DuckDB twin of ivf_near_dup_pairs now carries the occupancy
  guard CTE so both engines fail the same way on a hot cell.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clickhouse_forecasting_spark.functions import similarity as SIM
from clickhouse_forecasting_spark.operators.ranking import with_ntile_from_rn
from clickhouse_forecasting_spark.queries import _ivf_near_dup_sql


def test_ntile_backtick_column_names(spark):
    df = spark.range(1, 9).select(
        F.col("id").alias("r`n"), F.lit(8).alias("to`tal")
    )
    out = with_ntile_from_rn(df, "r`n", "to`tal", 4).collect()
    tiles = sorted((r["r`n"], r["tile"]) for r in out)
    # NTILE(4) over 8 rows: two rows per tile
    assert [t for _, t in tiles] == [1, 1, 2, 2, 3, 3, 4, 4]


def test_exactness_bound_formula():
    # dim=64: 4*64*M^2 <= 2^53  ->  M <= 2^22.5
    b = SIM._iv_exactness_bound(64)
    assert 4 * 64 * b * b <= 1 << 53
    assert 4 * 64 * (b + 1) * (b + 1) > 1 << 53


def test_ivf_exactness_guard_fires_on_oversized_magnitudes(spark):
    # scale so large that round(x*scale) blows the dim-4 bound
    bad = spark.createDataFrame(
        [(i, [float(i + 1)] * 4) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    assigned, _ = SIM.ivf_exact_cells(
        bad, n_cells=2, scale=10**18, lloyd_iters=0
    )
    with pytest.raises(Exception, match="exactness bound"):
        assigned.collect()


def test_ivf_exactness_guard_passes_in_bounds(spark):
    ok = spark.createDataFrame(
        [(i, [float(i % 3) / 10, 0.5]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    assigned, _ = SIM.ivf_exact_cells(ok, n_cells=2)
    rows = assigned.collect()
    assert len(rows) == 12 and all(r.cell is not None for r in rows)


def test_sql_twin_occupancy_guard_fires(sf_dir):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    # negative control: bound 1 must trip on any cell with >1 vector
    with pytest.raises(Exception, match="occupancy bound"):
        con.execute(_ivf_near_dup_sql(1, occ_bound=1)).fetchall()
    # positive: the production bound (10k) passes and returns pairs
    rows = con.execute(_ivf_near_dup_sql(1)).fetchall()
    assert len(rows) > 0
