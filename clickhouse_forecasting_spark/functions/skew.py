"""Skew mitigation utilities.

First line of defense is AQE (enabled in session.py): runtime skew-join
splitting and partition coalescing. These helpers cover the case AQE can't
fix — a *single aggregation key* hot enough that one reducer task gets the
whole key (AQE can split skewed JOIN partitions, but a groupBy key is
indivisible at the shuffle layer).

``salted_agg`` does two-phase aggregation: a deterministic row-hash salt
spreads each hot key over ``N_SALTS`` reducers for the first (heavy) phase;
the second phase combines ``N_SALTS`` tiny partials per key. Correct for any
commutative-associative aggregate; the combine expression is supplied per
column (sum -> sum, count -> sum, max -> max, ...).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# salt shards per hot key: the first phase spreads one key over this many
# reducers, and the second phase merges this many partials per key
N_SALTS = 16


def with_salt(df: DataFrame) -> DataFrame:
    """``_salt`` in [0, N_SALTS) from the row POSITION (partition id +
    offset), not row content: a hot key frequently consists of
    byte-identical rows, and any content-derived hash would give them all
    the same salt — no spread at all. monotonically_increasing_id is
    deterministic given the same input partitioning (safe for task
    retries), and commutative aggregates are insensitive to which salt
    shard a row lands in regardless."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(N_SALTS))
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    combine_aggs: Callable[[], list[Column]],
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    partial_aggs run per (keys + salt); combine_aggs() (built over the
    partial output columns) merge the salt shards per key. Example::

        salted_agg(df, ["k"],
                   [F.sum("v").alias("s"), F.count("*").alias("n")],
                   lambda: [F.sum("s").alias("s"), F.sum("n").alias("n")])
    """
    salted = with_salt(df)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*combine_aggs())
