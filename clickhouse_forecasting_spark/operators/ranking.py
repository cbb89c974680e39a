"""Distributed total-order primitives: global row_number / ntile / run-length
without the single-partition WindowExec collapse.

``Window.orderBy(...)`` with no ``partitionBy`` plans an
``Exchange SinglePartition`` — every row of the input moves to ONE task, the
first thing that dies at 100 TB.  These helpers express the same total-order
semantics as:

    repartitionByRange(order keys)            # ranged shuffle, N-way parallel
      -> sortWithinPartitions(order keys)     # local sort, no merge step
      -> localCheckpoint                      # pin partition layout + ids
      -> per-partition local index            # monotonically_increasing_id
      -> tiny per-partition count frame       # N rows, N = shuffle partitions
      -> broadcast cumulative offsets         # rn = local index + offset

The ONLY unpartitioned window left is over the per-partition count frame,
whose size is bounded by ``spark.sql.shuffle.partitions`` (config, not data).

Why the localCheckpoint: the offsets subplan and the main subplan must see
the SAME range boundaries and partition ids.  RangePartitioner samples its
boundaries at run time, and AQE may coalesce the two shuffle reads
differently — so deriving both branches from one plan tree is not a
correctness guarantee.  Materializing the (projected — callers should select
only needed columns first) ranged frame freezes both, and the expensive
ranged sort is paid exactly once even though two jobs read it.  This is the
same materialize-the-sorted-run cost any external distributed sort pays.

Semantics provenance: these back the rank/ntile surfaces ClickHouse exposes
as ``row_number() OVER (ORDER BY ...)`` / ``ntile`` — used by the registry's
curriculum/quantile/drift queries (the reference's forecast_script.py has no
ranking; this is part of the LLM-data-pipeline extension surface).

Size-adaptive dispatch
----------------------
The distributed machinery's constant overhead (ranged shuffle + eager
localCheckpoint + broadcast rebase, measured median ~4x at 1-8M rows —
NOTES_r7.md §7) never amortizes on small frames.  ``global_row_number``,
``global_ntile``, ``global_running_sum``, ``global_running_max``,
``global_rank``, ``grouped_row_number``, ``grouped_top_k`` and
``grouped_running_sum`` therefore take ``dispatch=True``: one
persist-then-count probe (``dispatch_small``) compares the input's row
count with the single cap ``FASTPATH_MAX_ROWS``, read at call time.  Under
the cap the plain window runs (``PARTITION BY`` the group keys, or
unpartitioned for a global order); over it, the distributed machinery.
Each decision is logged at INFO on the ``clickhouse_forecasting_spark``
logger with the caller, probed row count, cap and route.

The fast path re-proves the bound IN-PLAN (``_rowcap_guarded``): a
broadcast scalar count capped by an assert_true that wraps the first group
key, or for a global order the first plain-string order key — a
load-bearing column the window evaluates, so Catalyst cannot prune the
assert.  The count column carries the census's ``__bounded_`` marker, so
the single-partition census classifies the frame bounded, and an
oversized input fails loudly instead of collapsing into one task.  A
global order with no plain-string key raises ``ValueError`` before the
probe runs; pass names plus ``ascending=[...]`` instead of Column
expressions.  Enable dispatch only on AGGREGATE-grain inputs: the probe's
cache write is the dominant cost on a fact-grain frame (see
``dispatch_small``).
"""

from __future__ import annotations

import logging
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

_PID = "__rk_pid"
_LRN = "__rk_lrn"
_OFF = "__rk_off"
_CNT = "__rk_cnt"

# monotonically_increasing_id() = (partition_id << 33) | local_row_index
_MID_SHIFT = 33
_MID_MASK = (1 << _MID_SHIFT) - 1

logger = logging.getLogger("clickhouse_forecasting_spark")

# The one dispatch cap (probe and in-plan rowcap guard both read it at
# call time): with |domain| group-tasks each sorting at most this many
# rows, the worst single task holds ~4M rows (a few hundred MB of sort) —
# executor-safe on any reasonable config, while the machinery's constant
# overhead never amortizes below it (see the module docstring).
FASTPATH_MAX_ROWS = 4_000_000

# Upper bound on live dispatch probe persists (one per distinct plan
# semanticHash): enough that every dispatch-enabled query in a bench/suite
# run keeps its hit, small enough that a long-lived session stays bounded.
DISPATCH_CACHE_MAX = 64


def _order_cols(order_by: Sequence) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _ordered_cols_with_asc(
    order_by: Sequence, ascending: Sequence[bool] | None
) -> list[Column]:
    """Order columns with optional per-key direction flags (so global
    dispatch call sites can stay plain-name + flags): with ``ascending``
    every entry must be a plain column name; without it, entries pass
    through ``_order_cols`` untouched (str -> asc, Column -> as built)."""
    if ascending is None:
        return _order_cols(order_by)
    keys = list(order_by)
    if not all(isinstance(k, str) for k in keys):
        raise ValueError(
            "ascending requires plain column names in order_by"
        )
    if len(list(ascending)) != len(keys):
        raise ValueError("ascending must match order_by length")
    return [
        F.col(k) if a else F.col(k).desc() for k, a in zip(keys, ascending)
    ]


def _guard_key(group_by: Sequence[str], order_by: Sequence, caller: str) -> str:
    """The column the fast path's rowcap guard wraps: the first group key
    (the window partition key), or for a global order the first
    plain-string order key.  The guard must replace a LOAD-BEARING column
    the window evaluates, and _rowcap_guarded rewrites columns by name, so
    an expression-only global order is rejected."""
    if group_by:
        return group_by[0]
    for k in order_by:
        if isinstance(k, str):
            return k
    raise ValueError(
        f"{caller}: dispatch requires at least one plain column name in "
        "order_by (the in-plan rowcap guard wraps it); pass names + "
        "ascending=[...] instead of Column expressions"
    )


def ranged_with_local_index(
    df: DataFrame, order_by: Sequence, num_partitions: int | None = None
) -> DataFrame:
    """Range-partition + locally sort ``df`` by ``order_by`` and attach
    ``__rk_pid`` (partition id) and ``__rk_lrn`` (1-based local row number).

    Materializes via localCheckpoint so every downstream job sees one frozen
    partition layout (see module docstring).  Global order == (pid, lrn).
    """
    spark = df.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cols = _order_cols(order_by)
    ranged = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__rk_mid", F.monotonically_increasing_id())
        .withColumn(_PID, F.shiftright("__rk_mid", _MID_SHIFT).cast("int"))
        .withColumn(_LRN, (F.col("__rk_mid").bitwiseAND(_MID_MASK) + 1))
        .drop("__rk_mid")
    )
    return ranged.localCheckpoint(eager=True)


def partition_offsets(local: DataFrame, sum_cols: Iterable[str] = ()) -> DataFrame:
    """Per-partition row counts -> exclusive cumulative offsets.

    Input is the frame from ranged_with_local_index; output is one row per
    non-empty partition: (__rk_pid, __rk_off[, __rk_cum_<c> ...]).  The
    cumulative window here runs over <= num_shuffle_partitions rows — bounded
    by config, the documented exception to the no-global-window rule.
    """
    aggs = [F.count("*").alias(_CNT)]
    for c in sum_cols:
        aggs.append(F.sum(c).alias(f"__rk_s_{c}"))
        # non-null count per partition: lets global_running_sum reproduce
        # SQL's NULL-until-first-non-null running-sum semantics exactly
        aggs.append(F.count(c).alias(f"__rk_nn_{c}"))
    counts = local.groupBy(_PID).agg(*aggs)
    w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    out = counts.select(
        _PID,
        F.col(_CNT),  # kept so consumers can derive totals without a rescan
        F.coalesce(F.sum(_CNT).over(w), F.lit(0)).cast("bigint").alias(_OFF),
        *[
            c
            for pair in (
                (
                    F.coalesce(F.sum(f"__rk_s_{c}").over(w), F.lit(0)).alias(
                        f"__rk_cum_{c}"
                    ),
                    F.coalesce(F.sum(f"__rk_nn_{c}").over(w), F.lit(0))
                    .cast("bigint")
                    .alias(f"__rk_cumn_{c}"),
                )
                for c in sum_cols
            )
            for c in pair
        ],
    )
    return out


def global_row_number(
    df: DataFrame,
    order_by: Sequence,
    col_name: str = "rn",
    num_partitions: int | None = None,
    dispatch: bool = False,
) -> DataFrame:
    """df + a global 1-based row_number over ``order_by`` — the distributed
    equivalent of ``row_number() OVER (ORDER BY ...)``.  For a deterministic
    rn pass a total order (unique tie-break); for rank/tie-insensitive
    consumers (min-rn per group) ties may be left unresolved.

    SKEW CAVEAT: RangePartitioner cannot split EQUAL key tuples — every row
    sharing one ``order_by`` value lands in one partition.  A heavily-tied
    order column (worst case: a constant) therefore quietly recreates the
    single-task problem.  ALWAYS include a high-cardinality tie-break column
    (an id) in ``order_by`` even for tie-insensitive consumers: for RANK-like
    reductions (min rn per key group) the tie order is irrelevant to the
    result, but it lets the ranged shuffle split the tied run across
    partitions.  Pinned by test_ranking.test_tied_keys_split_with_tiebreak.

    ``dispatch``: see the module docstring."""
    fast = _dispatched(df, dispatch, (), order_by, None, "global_row_number")
    if fast is not None:
        guarded, w = fast
        return guarded.withColumn(col_name, F.row_number().over(w).cast("bigint"))
    local = ranged_with_local_index(df, _order_cols(order_by), num_partitions)
    off = partition_offsets(local)
    return (
        local.join(F.broadcast(off), _PID)
        .withColumn(col_name, (F.col(_OFF) + F.col(_LRN)).cast("bigint"))
        .drop(_PID, _LRN, _OFF, _CNT)
    )


def global_ntile(
    df: DataFrame,
    order_by: Sequence,
    n_tiles: int,
    col_name: str = "tile",
    num_partitions: int | None = None,
    dispatch: bool = False,
    ascending: Sequence[bool] | None = None,
) -> DataFrame:
    """df + SQL-exact NTILE(n) over a global order: the first (total % n)
    tiles get ceil(total/n) rows, the rest floor(total/n) — bit-identical to
    ANSI/DuckDB NTILE, computed from the distributed row number + one scalar
    total (broadcast 1-row aggregate) via with_ntile_from_rn, never a
    single-partition window.  ``dispatch``: see the module docstring (the
    fast path's native ``F.ntile`` IS the same ANSI NTILE)."""
    k = int(n_tiles)

    def clamp(tile: Column) -> Column:
        # identity clamp: tile ∈ 1..k by construction, so pmod(tile−1, k)+1
        # == tile — but it makes the 1..k domain VISIBLE to plan analysis
        # (plans._spc_key_bounded), so an aggregate grouped on the ntile
        # output is provably bounded in the single-partition census
        return (
            F.pmod(tile.cast("bigint") - 1, F.lit(k).cast("bigint")) + 1
        ).cast("int")

    fast = _dispatched(df, dispatch, (), order_by, ascending, "global_ntile")
    if fast is not None:
        guarded, w = fast
        return guarded.withColumn(col_name, clamp(F.ntile(k).over(w)))
    local = ranged_with_local_index(
        df, _ordered_cols_with_asc(order_by, ascending), num_partitions
    )
    off = partition_offsets(local)
    # scalar total from the tiny offsets frame (last offset + last count) —
    # no second scan of the checkpointed data
    total = off.agg(
        F.max(F.col(_OFF) + F.col(_CNT)).cast("bigint").alias("__rk_total")
    )
    rn = (
        local.join(F.broadcast(off), _PID)
        .crossJoin(F.broadcast(total))
        .withColumn("__rk_rn", (F.col(_OFF) + F.col(_LRN)).cast("bigint"))
    )
    tiled = with_ntile_from_rn(rn, "__rk_rn", "__rk_total", k, col_name)
    return tiled.withColumn(col_name, clamp(F.col(col_name))).drop(
        _PID, _LRN, _OFF, _CNT, "__rk_total", "__rk_rn"
    )


def global_rank(
    df: DataFrame,
    order_by: Sequence,
    col_name: str = "rank",
    dense: bool = False,
    num_partitions: int | None = None,
    dispatch: bool = False,
) -> DataFrame:
    """df + SQL RANK() (gaps after ties) or DENSE_RANK() over a global
    ascending order — distributed: global_row_number with an arbitrary tie order,
    then the tie-insensitive reduction per key group (min rn for RANK; a
    dense index from the ordered distinct-key frame for DENSE_RANK). The
    per-key windows are PARTITIONED by the full order tuple — parallel by
    construction; the dense path re-ranks only the distinct-key frame.

    ``order_by`` must be plain column names (rank semantics group back on
    them).

    ``dispatch`` (see the module docstring) applies to the internal
    per-key frames — the per-key count aggregate / the distinct-key
    frame, both aggregate-grain by construction."""
    keys = [c for c in order_by if isinstance(c, str)]
    if len(keys) != len(list(order_by)):
        # Column expressions (e.g. F.desc) have no stable name to group
        # back on
        raise ValueError("global_rank requires plain column names")
    if not dense:
        # RANK is key-grain: rank(v) = 1 + count of strictly-preceding
        # rows. Aggregate to per-key counts FIRST (the hash shuffle
        # splits tied rows across partitions), run the distributed
        # running sum over the DISTINCT-key frame only, and join the
        # ≤|distinct keys| rank table back. This never range-partitions
        # tied rows — the old full-frame ranged pass put every row of a
        # hot key in ONE partition (the documented RangePartitioner
        # tied-key limit); now only the per-key COUNT row lands there.
        vals = df.groupBy(*keys).agg(F.count("*").alias("__rk_kc"))
        cum = global_running_sum(
            vals, keys, ["__rk_kc"], ["__rk_kcum"],
            num_partitions=num_partitions, dispatch=dispatch,
        )
        ranks = cum.select(
            *keys,
            (F.col("__rk_kcum") - F.col("__rk_kc") + 1)
            .cast("bigint")
            .alias(col_name),
        )
        return _join_back_null_safe(df, ranks, keys)
    # dense: rank the DISTINCT key tuples (a far smaller frame), then map
    # each row to its key's dense index through a (null-safe) equi-join
    distinct_keys = df.select(*keys).distinct()
    dense_idx = global_row_number(
        distinct_keys, keys, col_name=col_name,
        num_partitions=num_partitions, dispatch=dispatch,
    )
    return _join_back_null_safe(df, dense_idx, keys)


def _join_back_null_safe(
    df: DataFrame,
    lookup: DataFrame,
    keys: list[str],
    broadcast: bool = False,
) -> DataFrame:
    """Inner-join `lookup` back onto `df` on `keys` with NULL-SAFE
    equality: SQL window ranks treat NULL as an ordinary (first) key
    value, so a plain equi-join (null ≠ null) would silently DROP
    NULL-keyed rows from the result.

    The lookup's payload (non-key) columns must be absent from `df`:
    a silent duplicate would only explode at a later select, so it is
    rejected here — matching the error behavior of the withColumn-based
    predecessors these joins replaced."""
    clash = [
        c for c in lookup.columns if c not in keys and c in df.columns
    ]
    if clash:
        raise ValueError(
            "join-back payload column(s) already exist on the input "
            f"frame: {clash} — rename the output column"
        )
    renamed = lookup.select(
        *[F.col(k).alias(f"__rk_j_{k}") for k in keys],
        *[c for c in lookup.columns if c not in keys],
    )
    if broadcast:
        renamed = F.broadcast(renamed)
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__rk_j_{k}"))
        cond = c if cond is None else cond & c
    return df.join(renamed, cond).drop(*[f"__rk_j_{k}" for k in keys])


def _guard_group_cardinality(
    off: DataFrame, guard_col: str, max_groups: int, caller: str
) -> DataFrame:
    """In-plan cardinality guard for the per-group rebase frames the
    grouped primitives force-broadcast: group count is only
    policy-bounded (enums / 10⁴–10⁵ shard ids), and a caller feeding a
    data-proportional key would get a driver-sized broadcast plus an
    unpartitioned window where the plain per-group window degrades
    gracefully.  A scalar count of the (already tiny) rebase frame is
    cross-joined back and an assert_true wraps `guard_col`, which must
    be a JOIN KEY of the downstream join-back: a payload column is
    column-pruned under count()-only plans and the assert would vanish
    with it, but the join key is load-bearing in every consumer plan
    (same fail-loud idiom as the dedup/ANN occupancy caps)."""
    cnt = off.groupBy().agg(F.count("*").alias("__rk_ng"))
    guarded = F.when(
        F.assert_true(
            F.col("__rk_ng") <= F.lit(int(max_groups)),
            F.lit(
                f"{caller}: group-key cardinality exceeds "
                f"max_groups={int(max_groups)} — the broadcast rebase "
                "frame is only safe for policy-bounded group counts; "
                "use a plain partitioned window for data-proportional "
                "keys or raise max_groups deliberately"
            ),
        ).isNull(),
        F.col(guard_col),
    )
    return (
        off.crossJoin(F.broadcast(cnt))
        .withColumn(guard_col, guarded)
        .drop("__rk_ng")
    )


# --- per-group (PARTITION BY enum) distributed forms ----------------------
#
# `Window.partitionBy(<enum>)` over a fact-grain frame fans the WHOLE input
# into ≤|domain| tasks (5 market segments = 5 tasks forever, no matter the
# cluster) — the per-key cousin of the single-partition collapse, flagged
# by plans.bounded_key_fanins. These helpers express the same semantics on
# the distributed machinery above: rank the global (group ++ order) total
# order, then rebase each group by a broadcast per-group offset (a
# ≤|domain|-row frame). The group key set must be BOUNDED-DOMAIN (that is
# what makes the rebase frame broadcastable) — which is exactly the case
# where the plain partitioned window cannot scale.


def probe_rows(df: DataFrame, cap: int) -> list | None:
    """Limit-guarded dispatch probe (r10 VERDICT #6: one shared helper
    instead of hand-rolled copies at every size-adaptive call site).

    Collects ``df`` under ``limit(cap + 1)`` — ONE job that either proves
    the frame bounded (returns the COMPLETE row list, ``len(rows) <=
    cap``) or overflows (returns ``None``: route to the distributed
    path). ``cap <= 0`` disables the probe (returns ``None`` without
    running a job) — the forced-distributed escape hatch. CollectLimit on
    a multi-partition frame runs incremental partial jobs (~0.35 s
    overhead locally) — cheaper than a separate count job and, unlike a
    plain collect, safe against an unexpectedly huge input."""
    if cap <= 0:
        return None
    rows = df.limit(int(cap) + 1).collect()
    return rows if len(rows) <= cap else None


def dispatch_small(df: DataFrame, caller: str = "dispatch_small") -> bool:
    """Routing probe for the size-adaptive dispatch: True iff ``df`` has at
    most ``FASTPATH_MAX_ROWS`` rows.  The driver-side count would otherwise
    recompute the (often aggregate) input once for routing and once for the
    query — so the frame persists FIRST, the count materializes the cache,
    and the fast path reads it back (measured ~2x on
    quantiles_exact_weighted at sf0.1).

    Over the cap the entry is KEPT too (r12, ADVICE r11): the
    distributed machinery the caller falls back to starts with
    ``repartitionByRange``, whose RangePartitioner sampling job plus the
    shuffle itself execute the input plan TWICE — Catalyst's plan-cache
    substitution points both at the materialized probe frame instead, so
    the over-cap probe's cache write now BUYS back the sampler recompute
    rather than being thrown away (the r11 form released it and paid one
    full extra recompute of the input). The residual over-cap cost is
    the cache write itself plus transient MEMORY_AND_DISK residency of
    one input-sized frame — which the ranged machinery's eager
    localCheckpoint was about to duplicate anyway. Enable dispatch only
    on aggregate-grain inputs all the same: on a fact-grain frame the
    cache WRITE is the dominant cost (the r11-documented reverts at
    q_global_rank_price_points / q_negative_sampling_table /
    q_key_skew_report measured exactly that) and keeping it does not
    amortize a write that should never happen.

    The persist registers in the package-wide runtime_cache under the
    plan's semanticHash (r9, ADVICE r8: the persists previously
    accumulated unobserved for the session lifetime) — one entry per
    distinct plan, re-probing a seen plan reuses the entry, the family
    is FIFO-capped at DISPATCH_CACHE_MAX (ADVICE r9), and
    ``runtime_cache.release("dispatch")`` drops them all. A 32-bit
    semanticHash collision could at worst misroute (return a wrong
    count); the fast path's in-plan rowcap assert still fails loudly on
    any oversized input, so correctness never rides the hash.

    Every decision is logged at INFO with ``caller`` (the primitive or
    query that asked), the probed row count, the cap and the route."""
    from .. import runtime_cache as _rc

    h = int(df._jdf.queryExecution().analyzed().semanticHash())
    key = ("dispatch", h)
    cached = _rc.cached_frame(df, key, lambda: df)
    n = cached.count()
    small = n <= FASTPATH_MAX_ROWS
    _rc.cap_family("dispatch", DISPATCH_CACHE_MAX)
    logger.info(
        "dispatch: caller=%s rows=%d cap=%d route=%s",
        caller, n, FASTPATH_MAX_ROWS, "fast" if small else "distributed",
    )
    return small


def _rowcap_guarded(df: DataFrame, key: str, caller: str) -> DataFrame:
    """The in-plan row-count proof behind every fast path: a scalar count
    of the input is cross-joined back (broadcast) and an assert_true caps
    it at ``FASTPATH_MAX_ROWS``, wrapping column ``key`` (see _guard_key:
    unprunable in any window-executing plan — same fail-loud idiom as
    _guard_group_cardinality and the dedup/ANN occupancy caps).  The count
    column is NAMED with the census's ``__bounded_`` marker prefix
    (``__bounded_rowcap_asserted``): it is referenced by the assert inside
    the guarded key, so it survives column pruning into the plan text, and
    the census recognizes the guarded frame as bounded — unlike the
    checkpoint markers this one is BACKED by the runtime assert."""
    cap = int(FASTPATH_MAX_ROWS)
    cnt = df.groupBy().agg(
        F.count("*").alias("__bounded_rowcap_asserted")
    )
    guarded_key = F.when(
        F.assert_true(
            F.col("__bounded_rowcap_asserted") <= F.lit(cap),
            F.lit(
                f"{caller}: input frame exceeds max_rows={cap}"
                " — the plain-window fast path is only safe for frames "
                "proven small; use the distributed grouped machinery "
                "for data-proportional inputs"
            ),
        ).isNull(),
        F.col(key),
    )
    return (
        df.crossJoin(F.broadcast(cnt))
        .withColumn(key, guarded_key)
        .drop("__bounded_rowcap_asserted")
    )


def _fastpath(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence,
    ascending: Sequence[bool] | None,
    caller: str,
) -> tuple[DataFrame, WindowSpec]:
    """The plain-window fast path every primitive shares: the rowcap-guarded
    frame and ``Window.partitionBy(group_by).orderBy(order_by)`` (no
    partition keys for a global order)."""
    guarded = _rowcap_guarded(df, _guard_key(group_by, order_by, caller), caller)
    spec = Window.partitionBy(*group_by).orderBy(
        *_ordered_cols_with_asc(order_by, ascending)
    )
    return guarded, spec


def _dispatched(
    df: DataFrame,
    dispatch: bool,
    group_by: Sequence[str],
    order_by: Sequence,
    ascending: Sequence[bool] | None,
    caller: str,
) -> tuple[DataFrame, WindowSpec] | None:
    """The one dispatch point: the fast path when ``dispatch`` is on and
    the probe proves the input small, else None (run the distributed
    machinery).  The guard key resolves before the probe, so a global
    order without a plain-string key raises before any job runs."""
    if not dispatch:
        return None
    _guard_key(group_by, order_by, caller)
    if not dispatch_small(df, caller=caller):
        return None
    return _fastpath(df, group_by, order_by, ascending, caller)


def _running_sums(
    df: DataFrame,
    w: WindowSpec,
    value_cols: Sequence[str],
    out_names: Sequence[str],
) -> DataFrame:
    """Plain ``SUM(c) OVER (w ROWS UNBOUNDED PRECEDING)`` per value column —
    the native window's NULL semantics ARE the SQL semantics the
    distributed machinery reproduces with its NULL-carry."""
    w = w.rowsBetween(Window.unboundedPreceding, 0)
    for c, name in zip(value_cols, out_names):
        df = df.withColumn(name, F.sum(c).over(w))
    return df


def bounded_rows_row_number(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence,
    caller: str = "bounded_rows_row_number",
) -> DataFrame:
    """df + ``rk``, the plain
    ``row_number() OVER (PARTITION BY groups ORDER BY order)``
    over a frame PROVEN small at execution time — the grouped fast path,
    for callers that route several primitives off one ``dispatch_small``
    probe.  Calling it on a frame over ``FASTPATH_MAX_ROWS`` is the
    negative control: the in-plan assert fires."""
    guarded, w = _fastpath(df, list(group_by), order_by, None, caller)
    return guarded.withColumn("rk", F.row_number().over(w).cast("bigint"))


def bounded_rows_running_sum(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence,
    value_cols: Sequence[str],
    out_names: Sequence[str],
    caller: str = "bounded_rows_running_sum",
) -> DataFrame:
    """Plain ``SUM(c) OVER (PARTITION BY groups ORDER BY order ROWS
    UNBOUNDED PRECEDING)`` over a frame proven small at execution time —
    the running-sum twin of bounded_rows_row_number."""
    guarded, w = _fastpath(df, list(group_by), order_by, None, caller)
    return _running_sums(guarded, w, value_cols, out_names)


def grouped_row_number(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence,
    col_name: str = "rn",
    num_partitions: int | None = None,
    max_groups: int = 1_000_000,
    dispatch: bool = False,
) -> DataFrame:
    """df + ``row_number() OVER (PARTITION BY groups ORDER BY order)``
    for bounded-domain groups, without fanning the fact into ≤|domain|
    tasks: distributed global row_number over (groups ++ order), then
    each group rebases by its broadcast min-rn (null-safe join — NULL is
    an ordinary group value).  Group cardinality is enforced in-plan at
    ``max_groups`` (the rebase frame is force-broadcast — see
    _guard_group_cardinality).  ``dispatch``: see the module docstring."""
    gcols = list(group_by)
    fast = _dispatched(df, dispatch, gcols, order_by, None, "grouped_row_number")
    if fast is not None:
        guarded, w = fast
        return guarded.withColumn(col_name, F.row_number().over(w).cast("bigint"))
    rn = global_row_number(
        df, [*gcols, *order_by], col_name="__rk_grn",
        num_partitions=num_partitions,
    )
    off = rn.groupBy(*gcols).agg(F.min("__rk_grn").alias("__rk_gmin"))
    off = _guard_group_cardinality(
        off, gcols[0], max_groups, "grouped_row_number"
    )
    out = _join_back_null_safe(rn, off, gcols, broadcast=True)
    return out.withColumn(
        col_name, (F.col("__rk_grn") - F.col("__rk_gmin") + 1).cast("bigint")
    ).drop("__rk_grn", "__rk_gmin")


def grouped_top_k(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence,
    k: int,
    col_name: str = "rn",
    num_partitions: int | None = None,
    dispatch: bool = False,
) -> DataFrame:
    """Top-k rows PER GROUP (the LIMIT ... BY / lateral-top-k shape)
    with the per-group row number attached — grouped_row_number +
    filter.  ``dispatch`` passes through (see the module docstring)."""
    return grouped_row_number(
        df, group_by, order_by, col_name=col_name,
        num_partitions=num_partitions, dispatch=dispatch,
    ).filter(F.col(col_name) <= int(k))


def with_ntile_from_rn(
    df: DataFrame,
    rn_col: str,
    total_col: str,
    n_tiles: int,
    out_col: str = "tile",
) -> DataFrame:
    """SQL-exact NTILE(k) computed from a 1-based row number column and
    its partition-total column, in all-bigint `div` arithmetic (never
    Column `/`, a DOUBLE divide that can round across an integer boundary
    near 2^53) — global_ntile's distributed route, and reusable for
    grouped forms (attach grouped_row_number + a broadcast per-group
    total, then this).
    Column names are backtick-quoted into the generated expression
    (embedded backticks doubled, Spark's quoted-identifier escape), so
    non-identifier names (dots, spaces, hyphens, backticks) bind
    correctly instead of breaking or injecting into the expression."""
    k = int(n_tiles)
    rn_col = "`%s`" % rn_col.replace("`", "``")
    total_col = "`%s`" % total_col.replace("`", "``")
    base = f"({total_col} div {k})"
    rem = f"({total_col} % {k})"
    expr = (
        f"CAST(CASE WHEN {base} = 0 THEN {rn_col} "
        f"WHEN {rn_col} <= ({base} + 1) * {rem} "
        f"THEN ({rn_col} + {base}) div ({base} + 1) "
        f"ELSE {rem} + ({rn_col} - ({base} + 1) * {rem} + {base} - 1) "
        f"div {base} END AS INT)"
    )
    return df.withColumn(out_col, F.expr(expr))


def grouped_running_sum(
    df: DataFrame,
    group_by: Sequence[str],
    order_by: Sequence,
    value_cols: Sequence[str],
    out_names: Sequence[str],
    num_partitions: int | None = None,
    max_groups: int = 1_000_000,
    dispatch: bool = False,
) -> DataFrame:
    """df + per-group inclusive running sums —
    ``SUM(c) OVER (PARTITION BY groups ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` for bounded-domain groups: the distributed GLOBAL
    running sum over (groups ++ order) minus each group's broadcast
    exclusive prefix total (group totals fold off the same checkpointed
    frame — no second input scan; the prefix window runs over the
    ≤|domain|-row group-total frame).

    NULL semantics match the SQL window form exactly: alongside each
    value's running sum, the global pass carries a running NON-NULL
    count of an always-defined 0/1 indicator; a row whose GROUP prefix
    holds no non-null value yields NULL (not the 0 the subtraction
    alone would surface), otherwise NULLs are skipped.

    Group cardinality is enforced in-plan at ``max_groups`` (the rebase
    frame is force-broadcast — see _guard_group_cardinality).

    ``dispatch``: see the module docstring."""
    gcols = list(group_by)
    fast = _dispatched(df, dispatch, gcols, order_by, None, "grouped_running_sum")
    if fast is not None:
        return _running_sums(*fast, value_cols, out_names)
    ind = {c: f"__rk_gnn_{c}" for c in value_cols}
    src = df
    for c in value_cols:
        # non-null indicator: never NULL itself, so its running sum is
        # the per-prefix non-null count of c
        src = src.withColumn(
            ind[c], F.col(c).isNotNull().cast("bigint")
        )
    tmp = [f"__rk_gcs_{c}" for c in value_cols]
    tmpn = [f"__rk_gcn_{c}" for c in value_cols]
    cum = global_running_sum(
        src, [*gcols, *order_by],
        [*value_cols, *ind.values()], [*tmp, *tmpn],
        num_partitions=num_partitions,
    )
    gt = cum.groupBy(*gcols).agg(
        *[F.sum(c).alias(f"__rk_gt_{c}") for c in value_cols],
        *[F.sum(ind[c]).alias(f"__rk_gtn_{c}") for c in value_cols],
    )
    w = Window.orderBy(*gcols).rowsBetween(Window.unboundedPreceding, -1)
    # cardinality guard rides the SAME window pass as the prefix sums
    # (one more frame over an identical sort spec — no extra exchange,
    # unlike grouped_row_number's cross-joined scalar count) and wraps
    # the join key, which every consumer plan keeps
    w_full = Window.orderBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    guard_key = F.when(
        F.assert_true(
            F.count("*").over(w_full) <= F.lit(int(max_groups)),
            F.lit(
                "grouped_running_sum: group-key cardinality exceeds "
                f"max_groups={int(max_groups)} — the broadcast rebase "
                "frame is only safe for policy-bounded group counts; "
                "use a plain partitioned window for data-proportional "
                "keys or raise max_groups deliberately"
            ),
        ).isNull(),
        F.col(gcols[0]),
    ).alias(gcols[0])
    goff = gt.select(
        guard_key,
        *gcols[1:],
        *[
            F.coalesce(F.sum(f"__rk_gt_{c}").over(w), F.lit(0)).alias(
                f"__rk_goff_{c}"
            )
            for c in value_cols
        ],
        *[
            F.coalesce(F.sum(f"__rk_gtn_{c}").over(w), F.lit(0)).alias(
                f"__rk_goffn_{c}"
            )
            for c in value_cols
        ],
    )
    out = _join_back_null_safe(cum, goff, gcols, broadcast=True)
    for c, t, tn, name in zip(value_cols, tmp, tmpn, out_names):
        grp_nn = F.col(tn) - F.col(f"__rk_goffn_{c}")
        out = out.withColumn(
            name,
            F.when(grp_nn == 0, F.lit(None)).otherwise(
                F.coalesce(F.col(t), F.lit(0)) - F.col(f"__rk_goff_{c}")
            ),
        )
    return out.drop(
        *tmp, *tmpn, *ind.values(),
        *[f"__rk_goff_{c}" for c in value_cols],
        *[f"__rk_goffn_{c}" for c in value_cols],
    )


def global_running_sum(
    df: DataFrame,
    order_by: Sequence,
    value_cols: Sequence[str],
    out_names: Sequence[str],
    num_partitions: int | None = None,
    dispatch: bool = False,
    ascending: Sequence[bool] | None = None,
) -> DataFrame:
    """df + inclusive running sums of ``value_cols`` over the global
    ``order_by`` — ``SUM(c) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    distributed as: per-partition running sum (+ one narrow hash shuffle on
    the partition id, parallel across partitions) plus broadcast exclusive
    prefix totals from the tiny per-partition count frame.

    NULL semantics match the SQL window form exactly: a row whose global
    prefix contains no non-null value yields NULL; otherwise NULLs are
    skipped.  (The prefix totals are coalesced to 0, so a per-partition
    non-null count — also carried in the offsets frame — decides the
    NULL-vs-0 edge.)

    ``dispatch``: see the module docstring."""
    fast = _dispatched(df, dispatch, (), order_by, ascending, "global_running_sum")
    if fast is not None:
        return _running_sums(*fast, value_cols, out_names)
    local = ranged_with_local_index(
        df, _ordered_cols_with_asc(order_by, ascending), num_partitions
    )
    off = partition_offsets(local, sum_cols=value_cols)
    w = (
        Window.partitionBy(_PID)
        .orderBy(_LRN)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = local.join(F.broadcast(off), _PID)
    for c, name in zip(value_cols, out_names):
        seen = F.col(f"__rk_cumn_{c}") + F.count(c).over(w)
        out = out.withColumn(
            name,
            F.when(seen == 0, F.lit(None)).otherwise(
                F.col(f"__rk_cum_{c}") + F.coalesce(F.sum(c).over(w), F.lit(0))
            ),
        )
    drop = [_PID, _LRN, _OFF, _CNT] + [
        f"__rk_cum_{c}" for c in value_cols
    ] + [f"__rk_cumn_{c}" for c in value_cols]
    return out.drop(*drop)


def global_running_max(
    df: DataFrame,
    order_by: Sequence,
    value_col: str,
    col_name: str,
    num_partitions: int | None = None,
    exclusive: bool = False,
    dispatch: bool = False,
) -> DataFrame:
    """df + running max of ``value_col`` over the global ``order_by`` —
    max is associative, so the stitch is: per-partition running max +
    broadcast exclusive prefix max of partition maxima (NULL for the
    first partition; greatest() skips NULLs).

    With ``exclusive=True`` the frame is
    ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`` (the skyline /
    strictly-before shape): the local window excludes the current row and
    the first global row yields NULL — identical to the SQL form's empty
    frame.

    ``dispatch``: see the module docstring."""
    hi = -1 if exclusive else 0
    fast = _dispatched(df, dispatch, (), order_by, None, "global_running_max")
    if fast is not None:
        guarded, w = fast
        return guarded.withColumn(
            col_name,
            F.max(value_col).over(w.rowsBetween(Window.unboundedPreceding, hi)),
        )
    local = ranged_with_local_index(df, _order_cols(order_by), num_partitions)
    pmax = local.groupBy(_PID).agg(F.max(value_col).alias("__rk_pm"))
    wp = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    pre = pmax.select(_PID, F.max("__rk_pm").over(wp).alias("__rk_prem"))
    wl = (
        Window.partitionBy(_PID)
        .orderBy(_LRN)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    return (
        local.join(F.broadcast(pre), _PID)
        .withColumn(
            col_name,
            F.greatest(F.max(value_col).over(wl), F.col("__rk_prem")),
        )
        .drop(_PID, _LRN, "__rk_prem")
    )


def top_k(df: DataFrame, order_by: Sequence, k: int) -> DataFrame:
    """Global top-k: orderBy + limit plans as TakeOrderedAndProject — per
    partition keeps k rows, then one k-row merge on the driver side of the
    exchange.  THE scale-safe replacement for rank()<=k global windows."""
    return df.orderBy(*_order_cols(order_by)).limit(int(k))


def partitioned_run_counts(
    df: DataFrame,
    order_by: Sequence,
    value_cols: Sequence[str],
    num_partitions: int | None = None,
    bucket_by: Column | None = None,
) -> DataFrame:
    """Adjacent-run counts of each value column in the global ``order_by``
    order — ``sum((c != lag(c) OVER (ORDER BY ...))::int)`` with null-safe
    comparison — WITHOUT a single-partition window.

    Fully JVM-side: range-partition on the order keys, compute interior
    lag-changes inside a per-partition window (partitioned by the physical
    partition id — parallel across partitions, whole-stage codegen), fold
    to one summary row per partition (interior change count + first/last
    values via min_by/max_by on the local row number), then stitch the
    partition boundaries over the <= num_partitions-row summary frame.
    The very first global row counts as a change iff its value is non-null
    (lag = NULL, null-safe-unequal) — identical to the window form.

    Single-branch consumer (only the summaries read the ranged frame), so
    no localCheckpoint is needed: one ranged shuffle + one pid-hash shuffle
    of the projected columns, both JVM (an earlier mapInPandas variant paid
    ~2x in Arrow transfer of the full fact projection).

    ``bucket_by`` (r12, guide §2.5/§6): RangePartitioner SAMPLES its
    boundaries — ``repartitionByRange`` runs a whole extra pass over the
    projected input before the shuffle.  When the caller can supply a
    deterministic bucket expression that is (a) monotone non-decreasing
    in the ``order_by`` prefix and (b) constant within every tied
    order-key group (e.g. ``(key - min_key) div span`` over an integer
    key whose min/max came from pushed-down parquet footer stats), the
    sampling pass is unnecessary: rows hash-partition on the bucket (use
    20-100x more buckets than partitions so the hash spreads evenly —
    guide §2.5), the lag window partitions BY BUCKET, and the stitch
    orders the per-BUCKET summary frame by the bucket value itself, so
    the physical partition order never matters.  Exact same run counts,
    one fewer input pass, no sampler.

    Returns ONE row: n_rows bigint, runs_<c> bigint per value column.
    """
    spark = df.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cols = list(value_cols)
    cols_ord = _order_cols(order_by)
    if bucket_by is not None:
        local = (
            df.select(bucket_by.alias(_PID), *cols_ord, *cols)
            .repartition(n, F.col(_PID))
        )
    else:
        local = (
            df.select(*cols_ord, *cols)
            .repartitionByRange(n, *cols_ord)
            .withColumn(_PID, F.spark_partition_id())
        )
    w = Window.partitionBy(_PID).orderBy(*cols_ord)
    proj = [F.col(_PID), F.row_number().over(w).alias(_LRN)]
    for c in value_cols:
        proj.append(
            (~F.col(c).eqNullSafe(F.lag(c).over(w))).cast("long").alias(f"__chg_{c}")
        )
        proj.append(F.col(c))
    win = local.select(*proj)
    aggs = [F.count("*").alias("__rk_n")]
    for c in value_cols:
        aggs.append(
            F.sum(
                F.when(F.col(_LRN) > 1, F.col(f"__chg_{c}")).otherwise(F.lit(0))
            ).alias(f"__rk_runs_{c}")
        )
        aggs.append(F.min_by(c, _LRN).alias(f"__rk_first_{c}"))
        aggs.append(F.max_by(c, _LRN).alias(f"__rk_last_{c}"))
    # one summary row per partition — bounded by config, not data; the
    # marker column keeps that visible to the plan census
    # (plans.single_partition_collapses) alongside the Aggregate barrier
    summaries = (
        win.groupBy(_PID)
        .agg(*aggs)
        .withColumn("__bounded_one_row_per_partition", F.lit(1))
    )

    # boundary stitch over the tiny per-partition frame (<= N rows, N = config)
    w = Window.orderBy(_PID)
    stitched = summaries.select(
        "__bounded_one_row_per_partition",  # keep the marker visible to the census
        "__rk_n",
        *[
            (
                F.col(f"__rk_runs_{c}")
                + (
                    ~F.col(f"__rk_first_{c}").eqNullSafe(
                        F.lag(f"__rk_last_{c}").over(w)
                    )
                ).cast("long")
            ).alias(f"__rk_tot_{c}")
            for c in cols
        ],
    )
    return stitched.agg(
        F.sum("__rk_n").cast("bigint").alias("n_rows"),
        *[
            F.sum(f"__rk_tot_{c}").cast("bigint").alias(f"runs_{c}")
            for c in cols
        ],
    )
