"""Scalable range (interval) join: left intervals x right points.

``l.start <= r.t < l.end`` as a raw inequality join is a cross join with a
filter — O(n*m) and unusable at scale. This implementation buckets time:
each left interval explodes into the (bounded) set of coarse buckets it
covers; each right point maps to one bucket; the join is then a plain
equi-join on the bucket key followed by the exact interval filter. Cost is
O(n * interval_span/bucket + matches) with a shuffle Catalyst handles like
any other equi-join (AQE skew-split applies to hot buckets).

Buckets are days, the granularity of the day-scale windows this joins, so
each interval explodes into a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_points(
    left: DataFrame,
    right: DataFrame,
    start_col: str,
    end_col: str,
    point_col: str,
) -> DataFrame:
    """Inner-join left rows to right rows with
    ``left.start_col <= right.point_col < left.end_col``.

    Returns left columns + right columns (name collisions must be resolved
    by the caller beforehand). Both sides bucket by day: left intervals
    step their bucket sequence by one day and right points truncate to
    the day, so the equi-join keys always align."""
    lb = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col(start_col)),
                # end is exclusive, but a point in the same bucket as `end`
                # can still precede it; include end's bucket and rely on
                # the exact filter below
                F.date_trunc("day", F.col(end_col)),
                F.expr("interval 1 day"),
            )
        ),
    )
    rb = right.withColumn("_bucket", F.date_trunc("day", F.col(point_col)))
    return (
        lb.join(rb, "_bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("_bucket")
    )
