"""Scalable as-of join (latest right row at-or-before each left timestamp).

Spark has no native as-of join. The textbook formulations both fail at
100 TB:

- inequality join (``l.t >= r.t`` + row_number): O(n*m) — a cross-join in
  disguise;
- single global window over the unioned timeline: correct and linear, but
  ``Window.orderBy`` without partitioning is ONE range-shuffled task chain —
  a single straggler owns the whole timeline.

This implementation keeps the union-timeline idea but splits it into
month buckets, making it a two-pass algorithm:

1. **in-bucket pass** — window partitioned by (keys, bucket): last right
   value at-or-before each row *within its bucket*. Fully parallel; state
   per task is one bucket of one key.
2. **carry pass** — per (keys, bucket), the bucket's final right value
   (an aggregate, not a window); then a window over the tiny
   (keys x buckets) frame computes the carry-in from all earlier buckets.
   This frame is ~|keys| * |months| rows — negligible vs the data.

Result rows take ``coalesce(in_bucket_value, carry_in)`` — identical output
to the global-window formulation (the DuckDB oracle runs that form), with
the shuffle partitioned by bucket instead of a single global range.

Ties: right rows sort before left rows at equal timestamps (at-or-before
includes equality); among right rows with equal timestamps the greatest
value wins — both passes use the same (t, value) order so they agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    right_value: str,
    keys: list[str] | None = None,
    out_col: str | None = None,
    strategy: str = "bucketed",
) -> DataFrame:
    """Attach ``right_value`` of the latest right row with
    ``right.right_ts <= left.left_ts`` (per ``keys`` if given) to every
    left row. Left rows with no earlier right row get NULL.

    strategy='bucketed' (default) is the 100 TB path described above.
    strategy='global' uses one window over the whole (per-key) timeline:
    the reference formulation the bucketed path is tested against (wrong
    at raw-event scale, where an unpartitioned timeline is a single
    task)."""
    keys = keys or []
    out_col = out_col or f"asof_{right_value}"
    rv_type = right.schema[right_value].dataType

    lrow = F.struct(*[F.col(c) for c in left.columns]).alias("_lrow")
    l2 = left.select(
        *keys,
        F.col(left_ts).cast("timestamp").alias("_t"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast(rv_type).alias("_rv"),
        lrow,
    )
    lrow_type = l2.schema["_lrow"].dataType
    r2 = right.select(
        *keys,
        F.col(right_ts).cast("timestamp").alias("_t"),
        F.lit(0).alias("_kind"),
        F.col(right_value).alias("_rv"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
    )
    if strategy == "global":
        w = (
            Window.partitionBy(*keys)
            .orderBy("_t", "_kind", "_rv")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            l2.unionByName(r2)
            .withColumn(out_col, F.last("_rv", ignorenulls=True).over(w))
            .filter(F.col("_kind") == 1)
            .select("_lrow.*", out_col)
        )

    u = l2.unionByName(r2).withColumn("_b", F.date_trunc("month", F.col("_t")))

    w_in = (
        Window.partitionBy(*keys, "_b")
        .orderBy("_t", "_kind", "_rv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn("_in_bucket", F.last("_rv", ignorenulls=True).over(w_in))

    bucket_last = (
        r2.withColumn("_b", F.date_trunc("month", F.col("_t")))
        .groupBy(*keys, "_b")
        .agg(F.max_by("_rv", F.struct("_t", "_rv")).alias("_bl"))
    )
    buckets = (
        u.select(*keys, "_b")
        .distinct()
        .join(bucket_last, [*keys, "_b"], "left")
    )
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = buckets.withColumn(
        "_carry", F.last("_bl", ignorenulls=True).over(w_carry)
    ).select(*keys, "_b", "_carry")

    out = (
        u.filter(F.col("_kind") == 1)
        .join(F.broadcast(carry), [*keys, "_b"], "left")
        .withColumn(out_col, F.coalesce("_in_bucket", "_carry"))
    )
    return out.select("_lrow.*", out_col)


def _negate_ts(c: Column) -> Column:
    # time-axis reflection: backward machinery on the negated axis IS
    # the forward join (negative epochs are valid pre-1970 timestamps)
    return F.timestamp_micros(-F.unix_micros(c.cast("timestamp")))


def asof_join_directional(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    right_value: str,
    direction: str = "backward",
    out_col: str | None = None,
    out_ts_col: str | None = None,
) -> DataFrame:
    """pandas ``merge_asof``-style direction on top of the bucketed
    backward operator, per ``user_id``.

    direction='backward' (default): latest right row at-or-before;
    'forward': earliest right row at-or-after (the backward pass run on
    the time-negated axis — one reflection, same two-pass plan);
    'nearest': both passes, smaller absolute gap wins, ties go backward.
    The matched right timestamp is exposed via ``out_ts_col`` when given.
    All variants keep the operator's bucket-parallel shape — 'nearest'
    costs exactly two passes."""
    keys = ["user_id"]
    out_col = out_col or f"asof_{right_value}"
    rp = right.select(
        *keys,
        F.col(right_ts).cast("timestamp").alias("_mt"),
        F.col(right_value).alias("_mv"),
    ).select(*keys, "_mt", F.struct("_mt", "_mv").alias("_pack"))

    def _backward(ldf: DataFrame, col: str) -> DataFrame:
        return asof_join(
            ldf, rp, left_ts=left_ts, right_ts="_mt",
            right_value="_pack", keys=keys, out_col=col,
        )

    def _forward(ldf: DataFrame, col: str) -> DataFrame:
        l2 = ldf.withColumn("_neg_lt", _negate_ts(F.col(left_ts)))
        r2 = rp.withColumn("_neg_rt", _negate_ts(F.col("_mt"))).select(
            *keys, "_neg_rt", "_pack"
        )
        return asof_join(
            l2, r2, left_ts="_neg_lt", right_ts="_neg_rt",
            right_value="_pack", keys=keys, out_col=col,
        ).drop("_neg_lt")

    lts = F.col(left_ts)
    if direction in ("backward", "forward"):
        j = (_backward if direction == "backward" else _forward)(left, "_m")
        m = F.when(F.col("_m").isNotNull(), F.col("_m"))
    elif direction == "nearest":
        j = _forward(_backward(left, "_mb"), "_mf")
        gb = F.abs(
            F.unix_micros(lts.cast("timestamp"))
            - F.unix_micros(F.col("_mb")["_mt"])
        )
        gf = F.abs(
            F.unix_micros(lts.cast("timestamp"))
            - F.unix_micros(F.col("_mf")["_mt"])
        )
        pick_b = F.col("_mb").isNotNull() & (
            F.col("_mf").isNull() | (gb <= gf)
        )
        m0 = F.when(pick_b, F.col("_mb")).otherwise(F.col("_mf"))
        m = F.when(m0.isNotNull(), m0)
        j = j.withColumn("_m", m).drop("_mb", "_mf")
        m = F.col("_m")
    else:
        raise ValueError(f"unknown direction: {direction!r}")

    out = j.withColumn(out_col, m["_mv"])
    if out_ts_col:
        out = out.withColumn(out_ts_col, m["_mt"])
    return out.drop("_m")
