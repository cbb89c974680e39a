"""Physical-plan introspection helpers.

The engine's scale guarantees (pruned scans, pushed filters, broadcast dim
joins, no cartesian products, exchange reuse) are *plan* properties, not
result properties — these helpers make them assertable in tests
(tests/test_plans.py) and inspectable in notebooks via plan_summary().
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed-plan string (before execution: AQE's initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — what actually hits storage."""
    return re.findall(r"ReadSchema: (\S+)", physical_plan(df))


def plan_summary(df: DataFrame) -> dict[str, int]:
    """Operator census of the physical plan — the numbers to watch when
    reviewing an operator for 100 TB viability."""
    plan = physical_plan(df)
    return {
        "exchanges": plan.count("Exchange"),
        "reused_exchanges": plan.count("ReusedExchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffledhash_joins": plan.count("ShuffledHashJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "parquet_scans": plan.count("Scan parquet"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_evals": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
    }


# --- single-partition-collapse detector -----------------------------------
#
# An unpartitioned Window / global sort-to-one plans an
# `Exchange SinglePartition` whose input is the FULL upstream frame — the
# one operator shape that cannot scale out.  It is legitimate only when the
# frame feeding it is bounded: beneath a Limit / TakeOrderedAndProject, a
# literal-sized leaf (Range, LocalTableScan), or an Aggregate whose EVERY
# grouping key has a provably bounded domain (a category enum, a calendar
# grain, the physical partition id, or a __bounded_* marker).  An aggregate
# keyed by a data-proportional column (doc_id, custkey, token, distinct
# price) is NOT a barrier — one row per document/customer/term is billions
# of rows at 100 TB — so the walk recurses into its children instead.
# single_partition_collapses() walks the physical-plan tree and returns the
# offending Exchange lines — empty means every global-order operation in the
# plan is either distributed (operators/ranking.py) or provably bounded.

_SPC_BARRIERS = (
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "BroadcastExchange",  # broadcast sides are bounded by the bcast threshold
)

_SPC_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")

# Column names whose value domain is bounded by the DATA MODEL, not by the
# corpus size — the only aggregate grouping keys that bound a frame.
# Anything not listed is assumed data-proportional.
#
# Each PROBEABLE entry maps column -> (source table, documented max
# distinct count): tests/test_plans.py::test_bounded_column_domains_hold
# scans the fixture and asserts the observed distinct count stays within
# the documented bound, so fixture/schema drift cannot silently unbound a
# "bounded" key (the census's trust surface is measured, not declared).
# Calendar-grain date columns grow with TIME, not data volume — their
# bound is the fixture's date span in days (generous: TPC-H spans
# 1992-01-01..1998-08-02 ≈ 2406 order dates; receipt dates extend ~+4
# months past that).
BOUNDED_COLUMN_DOMAINS: dict[str, tuple[str, int]] = {
    # TPC-H dimension keys / enums (fixed small domains at every SF)
    "r_regionkey": ("region", 5), "r_name": ("region", 5),
    "n_nationkey": ("nation", 25), "n_name": ("nation", 25),
    "c_nationkey": ("customer", 25), "s_nationkey": ("supplier", 25),
    "l_returnflag": ("lineitem", 3), "l_linestatus": ("lineitem", 2),
    "l_linenumber": ("lineitem", 7),
    "l_quantity": ("lineitem", 50),        # 1..50 (spec)
    "o_orderstatus": ("orders", 3), "o_orderpriority": ("orders", 5),
    "c_mktsegment": ("customer", 5),
    "p_brand": ("part", 25),
    "p_size": ("part", 50), "p_type": ("part", 150),
    # calendar-grain date columns (fixture date span, days)
    "o_orderdate": ("orders", 2500),
    "l_shipdate": ("lineitem", 2650),
    # documents generator enums (closed sets: 5 langs, src0..src19)
    "lang": ("documents", 8), "source": ("documents", 32),
}

# Convention-bounded names with NO probeable source table:
# day/week/month/year are the repo's naming convention for DERIVED
# calendar columns (aggregate-output lineage is not printed in plans, so
# the convention is the contract — enforced by the cross-module
# calendar-naming lint in tests/test_plans.py); __rk_pid is the physical
# partition id, bounded by spark.sql.shuffle.partitions (config, not
# data; operators/ranking.py per-partition summaries).
_SPC_CONVENTION_COLUMNS = frozenset({
    "day", "week", "month", "year",
    "__rk_pid",
})

_SPC_BOUNDED_COLUMNS = (
    frozenset(BOUNDED_COLUMN_DOMAINS) | _SPC_CONVENTION_COLUMNS
)

# Expression heads that bound ANY argument to a small domain: calendar
# extractors (year/month/… of anything is calendar-bounded) and the
# physical partition id.
_SPC_BOUNDED_EXPR_RE = re.compile(
    r"^(year|month|quarter|weekofyear|week|dayofweek|dayofmonth|dayofyear|"
    r"weekday|day|hour|minute|second|isodow|date_trunc|trunc|date_format|"
    r"to_date|datediff|date_diff|spark_partition_id)\("
)

# cast(anything AS date) is a calendar coarsening: the result domain is the
# corpus date span (grows with TIME, not data volume) no matter what the
# argument is
_SPC_CAST_DATE_RE = re.compile(r"^cast\(.+ as date\)$")

_SPC_BOUNDED_LEAVES = (
    "Range ",  # spark.range(...) — literal row count
    "LocalTableScan",
    "Scan OneRowRelation",
    "ReusedExchange",  # original exchange subtree is audited where it appears
    "ReusedSubquery",
)


class _PlanNode:
    __slots__ = ("text", "children")

    def __init__(self, text: str):
        self.text = text
        self.children: list["_PlanNode"] = []


def _parse_plan_tree(plan: str) -> list[_PlanNode]:
    """Parse Spark's indented treeString into nodes (depth = prefix//3).

    Executed AQE stages (TableCacheQueryStage etc.) embed `== Final Plan ==`
    / `== Initial Plan ==` section headers inline: the headers are
    structural noise (dropped), and the Initial-plan section is the
    pre-adaptive rendering of the SAME subtree — auditing it would
    double-count, so it is skipped and only the Final plan is walked.

    InMemoryRelation nodes embed their cached plan's OWN AdaptiveSparkPlan
    rendering, whose stage-root lines (`ResultQueryStage n`, …) print with
    NO `+- `/`:- ` connector at an indentation unrelated to the outer tree
    — naively they'd attach as phantom children of outer nodes (observed:
    a cached-stage root attaching under an unrelated Exchange
    SinglePartition, a census false positive). A connector-less line at
    depth > 0 while an InMemoryRelation is open on the stack is such an
    embedded root: dropped WITHOUT touching the stack, so its own
    connector-bearing descendants attach deep inside the cached-relation
    subtree (which the census treats as an opaque leaf) and the outer
    tree resumes intact."""
    roots: list[_PlanNode] = []
    stack: list[tuple[int, _PlanNode]] = []
    skip_deeper_than: int | None = None
    for raw in plan.splitlines():
        if not raw.strip() or raw.lstrip().startswith("=="):
            continue
        i = 0
        connector = False
        while raw[i : i + 3] in ("   ", ":  ", ":- ", "+- "):
            marker = raw[i : i + 3]
            i += 3
            if marker in (":- ", "+- "):
                connector = True
                break
        text = raw[i:]
        depth = i // 3
        if skip_deeper_than is not None:
            if depth >= skip_deeper_than:
                continue
            skip_deeper_than = None
        if text.startswith("=="):
            if "Initial Plan" in text:
                skip_deeper_than = depth
            continue
        if depth > 0 and not connector:
            # an embedded-plan root (cached-relation AQE rendering) or an
            # AQE section root: dropping it WITHOUT touching the stack
            # splices it out — its connector-bearing children attach to
            # the node it would have attached to, so real dataflow stays
            # connected and phantom stage roots never become children of
            # unrelated outer nodes (see docstring)
            continue
        node = _PlanNode(text)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            stack[-1][1].children.append(node)
        else:
            roots.append(node)
        stack.append((depth, node))
    return roots


# Checkpointed frames read back as opaque `Scan ExistingRDD` leaves, so a
# 25-row category aggregate is indistinguishable from a checkpointed corpus.
# Queries that checkpoint a provably tiny frame (bounded by a category
# cross-product or a literal, never by fact rows) declare it by carrying a
# `__bounded_<why>` marker column into the checkpoint; the leaf line prints
# the frame's schema, so the marker is visible here AND greppable in source
# (each use must carry a justification in its name/comment).
BOUNDED_MARK_PREFIX = "__bounded_"


def _agg_grouping_keys(text: str) -> list[str] | None:
    """Parse the keys=[...] list of an Aggregate plan line, splitting on
    top-level commas only (keys may contain nested function calls)."""
    m = re.search(r"keys?=\[", text)
    if m is None:
        return None
    keys: list[str] = []
    buf: list[str] = []
    depth_sq, depth_par = 0, 0
    for ch in text[m.end():]:
        if ch == "]" and depth_sq == 0:
            break
        if ch == "[":
            depth_sq += 1
        elif ch == "]":
            depth_sq -= 1
        elif ch == "(":
            depth_par += 1
        elif ch == ")":
            depth_par -= 1
        elif ch == "," and depth_sq == 0 and depth_par == 0:
            keys.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        keys.append(tail)
    return keys


_SPC_CAST_RE = re.compile(r"^cast\((.+) as \w+(\(\d+(,\d+)?\))?\)$")
_SPC_ATTR_RE = re.compile(r"^(\w+)#\d+[A-Z]*$")


def _strip_normalize_wrappers(e: str) -> str:
    for w in ("knownfloatingpointnormalized(", "normalizenanandzero("):
        while e.startswith(w) and e.endswith(")"):
            e = e[len(w):-1]
    return e


def _resolve_alias(ref: str, subtree: str) -> str | None:
    """Find the defining expression of `name#id` (an alias produced by a
    Project/Aggregate beneath) by scanning backward from ` AS name#id`,
    balancing brackets to the start of the aliased expression."""
    idx = subtree.find(" AS " + ref)
    if idx < 0:
        return None
    depth = 0
    j = idx - 1
    while j >= 0:
        ch = subtree[j]
        if ch in ")]":
            depth += 1
        elif ch in "([":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            break
        j -= 1
    return subtree[j + 1: idx].strip()


def _split_top_level(s: str, sep: str) -> list[str]:
    """Split on `sep` occurrences at bracket depth 0."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if depth == 0 and s.startswith(sep, i):
            parts.append("".join(buf))
            buf = []
            i += len(sep)
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts]


def _strip_outer_parens(e: str) -> str:
    while e.startswith("(") and e.endswith(")"):
        depth = 0
        for i, ch in enumerate(e):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
                if depth == 0 and i < len(e) - 1:
                    return e  # the opening paren closes early — not outer
        e = e[1:-1].strip()
    return e


def _case_result_exprs(e: str) -> list[str] | None:
    """For a top-level `CASE WHEN … THEN … [ELSE …] END`, the list of
    result (THEN/ELSE) expressions; None if `e` is not such a CASE."""
    if not (e.startswith("CASE") and e.endswith("END")):
        return None
    results: list[str] = []
    depth = 0  # bracket depth
    case_depth = 0  # nesting of CASE…END
    collect_from: int | None = None
    i = 0

    def word_at(pos: int, w: str) -> bool:
        end = pos + len(w)
        before_ok = pos == 0 or not e[pos - 1].isalnum()
        after_ok = end >= len(e) or not e[end].isalnum()
        return e.startswith(w, pos) and before_ok and after_ok

    while i < len(e):
        ch = e[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if depth == 0:
            if word_at(i, "CASE"):
                case_depth += 1
                i += 4
                continue
            if word_at(i, "END"):
                case_depth -= 1
                if case_depth == 0:
                    if collect_from is not None:
                        results.append(e[collect_from:i].strip())
                    return results
                i += 3
                continue
            if case_depth == 1:
                for kw in ("WHEN", "THEN", "ELSE"):
                    if word_at(i, kw):
                        if collect_from is not None:
                            results.append(e[collect_from:i].strip())
                            collect_from = None
                        if kw in ("THEN", "ELSE"):
                            collect_from = i + len(kw)
                        i += len(kw) - 1
                        break
        i += 1
    return None  # malformed


_SPC_AGG_OUT_RE = re.compile(
    r"keys=\[(?P<keys>.*?)\], functions=\[(?P<fns>.*?)\], output=\[(?P<out>.*?)\]"
)
_SPC_BOUNDED_AGG_FNS = ("min", "max", "first", "last", "any_value", "mode")


def _resolve_agg_output(ref: str, subtree: str) -> str | None:
    """Resolve `name#id` when it is an AGGREGATE output attribute (printed
    in output=[...], never as an AS alias): map it positionally — output =
    grouping keys ++ function results — and return the function expression
    if it is a domain-preserving reduction (min/max/first/...) of its
    argument, whose boundedness the caller then checks."""
    for m in _SPC_AGG_OUT_RE.finditer(subtree):
        out = _split_top_level(m.group("out"), ",")
        if ref not in out:
            continue
        keys = [k for k in _split_top_level(m.group("keys"), ",") if k]
        fns = [f for f in _split_top_level(m.group("fns"), ",") if f]
        if len(out) != len(keys) + len(fns):
            # resultExpressions were folded into the aggregate (post-agg
            # projection) — the positional keys++functions mapping does
            # not hold, and guessing would mis-resolve
            continue
        idx = out.index(ref)
        if idx < len(keys):
            if keys[idx] == ref:
                # ref is this aggregate's own passthrough key — its
                # definition lives in an earlier (deeper) aggregate or
                # projection; keep scanning
                continue
            return keys[idx]
        fi = idx - len(keys)
        fn = fns[fi]
        fm = re.match(r"^(\w+)\((.*)\)$", fn)
        if fm and fm.group(1) in _SPC_BOUNDED_AGG_FNS:
            args = _split_top_level(fm.group(2), ",")
            if args and args[0] != ref:
                return args[0]
        continue
    return None


def _spc_key_bounded(expr: str, subtree: str, depth: int = 0) -> bool:
    """True iff a grouping expression provably has a bounded value domain.
    The grammar (each rule is domain arithmetic, not a heuristic):
    literal | declared bounded column | __bounded_* marker | calendar
    extractor / spark_partition_id over anything | cast(… as date) |
    pmod(anything, literal) | anything % literal | bounded ± literal |
    cast(bounded) | CASE whose every THEN/ELSE result is bounded |
    alias / aggregate-output chains resolving to one of those (min/max/
    first/… preserve their argument's domain)."""
    if depth > 6:
        return False
    e = _strip_outer_parens(_strip_normalize_wrappers(expr.strip()))
    if _SPC_BOUNDED_EXPR_RE.match(e):
        return True
    if _SPC_CAST_DATE_RE.match(e):
        return True
    if re.match(r"^-?\d+(\.\d+)?L?$|^true$|^false$|^null$", e, re.IGNORECASE):
        return True  # literal grouping key
    branches = _case_result_exprs(e)
    if branches is not None:
        return bool(branches) and all(
            _spc_key_bounded(b, subtree, depth + 1) for b in branches
        )
    if e.startswith("pmod("):
        args = _split_top_level(e[5:-1], ",") if e.endswith(")") else []
        if len(args) == 2 and re.match(r"^-?\d+L?$", args[1]):
            return True
    # x % literal — at most 2·k−1 distinct values
    mod_parts = _split_top_level(e, " % ")
    if len(mod_parts) == 2 and re.match(r"^-?\d+L?$", mod_parts[1]):
        return True
    # date_add/date_sub(bounded, literal) — the calendar twin of the
    # "bounded ± literal" shift below: a literal day offset preserves
    # the domain size of a calendar-bounded argument
    for head in ("date_add(", "date_sub("):
        if e.startswith(head) and e.endswith(")"):
            args = _split_top_level(e[len(head):-1], ",")
            if (
                len(args) == 2
                and re.match(r"^-?\d+$", args[1].strip())
                and _spc_key_bounded(args[0], subtree, depth + 1)
            ):
                return True
    # bounded ± literal — a shift preserves domain size
    for op in (" + ", " - "):
        parts = _split_top_level(e, op)
        if len(parts) == 2:
            lit, other = None, None
            for a, b in ((parts[0], parts[1]), (parts[1], parts[0])):
                if re.match(r"^-?\d+(\.\d+)?L?$", a):
                    lit, other = a, b
            if lit is not None and _spc_key_bounded(other, subtree, depth + 1):
                return True
    m = _SPC_CAST_RE.match(e)
    if m:
        return _spc_key_bounded(m.group(1), subtree, depth + 1)
    m = _SPC_ATTR_RE.match(e)
    if m:
        name = m.group(1)
        if name.startswith(BOUNDED_MARK_PREFIX) or name in _SPC_BOUNDED_COLUMNS:
            return True
        defn = _resolve_alias(e, subtree)
        if defn is not None and defn != e:
            return _spc_key_bounded(defn, subtree, depth + 1)
        defn = _resolve_agg_output(e, subtree)
        if defn is not None and defn != e:
            return _spc_key_bounded(defn, subtree, depth + 1)
    return False


def _subtree_text(node: _PlanNode) -> str:
    parts = [node.text]
    stack = list(node.children)
    while stack:
        n = stack.pop()
        parts.append(n.text)
        stack.extend(n.children)
    return "\n".join(parts)


def _spc_unbounded(node: _PlanNode, ctx: str | None = None) -> bool:
    """ctx is the FULL plan text: grouping-key aliases may be defined under
    a ReusedExchange's original subtree elsewhere in the plan, and
    attribute ids (#N) are plan-global, so resolution searches all of it.
    Falls back to the node's own subtree when not provided."""
    t = node.text
    if ctx is None:
        ctx = _subtree_text(node)
    if BOUNDED_MARK_PREFIX in t:
        # marker column visible in this node's attribute list — the frame
        # flowing through here is bounded by construction (leaf schemas,
        # mapInPandas output schemas, projects over marked frames)
        return False
    if any(b in t for b in _SPC_BARRIERS):
        return False
    if "InMemoryTableScan" in t or "InMemoryRelation" in t:
        # cached frame: an opaque materialization — data-proportional
        # unless its schema carries a __bounded_* marker (checked above).
        # Never recurse: the embedded cached-plan rendering is not part
        # of this plan's dataflow.
        return True
    if any(a in t for a in _SPC_AGG_NODES):
        keys = _agg_grouping_keys(t)
        if keys is not None:
            if not keys:
                return False  # scalar aggregate: exactly one row
            if all(_spc_key_bounded(k, ctx) for k in keys):
                return False  # bounded grouping grain: |domain| rows max
        # data-proportional grain: the aggregate output scales with its
        # input, so boundedness is the CHILDREN's boundedness
    if not node.children:
        return not any(b in t for b in _SPC_BOUNDED_LEAVES)
    return any(_spc_unbounded(c, ctx) for c in node.children)


# Keys whose domain is FIXED-SMALL (an enum that never grows with the
# cluster or the data): a window PARTITIONED by only these over a
# fact-proportional frame fans the whole input into ≤|domain| tasks — the
# per-key cousin of the single-partition collapse, invisible to the
# SinglePartition census. Config-scaling keys (__rk_pid,
# spark_partition_id — more tasks on a bigger cluster) and calendar
# grains (thousands of values) are deliberately NOT here.
_SPC_SMALL_ENUM_COLUMNS = frozenset({
    "r_regionkey", "r_name",
    "n_nationkey", "n_name",
    "c_nationkey", "s_nationkey",
    "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
    "l_linenumber",
    "o_orderstatus", "o_orderpriority",
    "c_mktsegment",
    "p_brand", "p_container", "p_mfgr",
    "lang", "source",
})


def _window_partition_keys(text: str) -> list[str] | None:
    """Partition columns of a Window plan line: the node prints
    `Window [exprs], [partition-cols], [order-cols]` — take the
    second-to-last top-level bracket group (None when the line has fewer
    than 3 groups, i.e. no partitioning)."""
    groups: list[str] = []
    depth = 0
    start = None
    for i, ch in enumerate(text):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start is not None:
                groups.append(text[start:i])
                start = None
    if len(groups) < 3:
        return None
    part = [k for k in _split_top_level(groups[-2], ",") if k]
    return part or None


def _enum_key(expr: str, ctx: str, depth: int = 0) -> bool:
    """True iff the expression resolves to a FIXED-SMALL-domain enum
    column (alias/agg-output chains followed like _spc_key_bounded)."""
    if depth > 4:
        return False
    e = _strip_outer_parens(_strip_normalize_wrappers(expr.strip()))
    m = _SPC_CAST_RE.match(e)
    if m:
        return _enum_key(m.group(1), ctx, depth + 1)
    m = _SPC_ATTR_RE.match(e)
    if m:
        if m.group(1) in _SPC_SMALL_ENUM_COLUMNS:
            return True
        defn = _resolve_alias(e, ctx)
        if defn is not None and defn != e:
            return _enum_key(defn, ctx, depth + 1)
        defn = _resolve_agg_output(e, ctx)
        if defn is not None and defn != e:
            return _enum_key(defn, ctx, depth + 1)
    return False


def bounded_key_fanins(df: DataFrame) -> list[str]:
    """Window nodes whose EVERY partition key is a fixed-small-domain
    enum while the input frame is data-proportional: the whole fact fans
    into ≤|domain| tasks (e.g. 5 market segments) no matter how large the
    cluster — the per-key cousin of the single-partition collapse. Empty
    means every enum-partitioned window runs over a provably bounded
    frame (usually an aggregate at that grain)."""
    plan = physical_plan(df)
    flagged: list[str] = []

    def walk(node: _PlanNode) -> None:
        if node.text.startswith("Window "):
            keys = _window_partition_keys(node.text)
            if keys and all(_enum_key(k, plan) for k in keys):
                if any(_spc_unbounded(c, plan) for c in node.children):
                    flagged.append(
                        "Window partitionBy[" + ", ".join(keys) + "]"
                    )
        for c in node.children:
            walk(c)

    for root in _parse_plan_tree(plan):
        walk(root)
    return flagged


def single_partition_collapses(df: DataFrame) -> list[str]:
    """Exchange SinglePartition nodes fed by an unbounded frame — the
    global-sort anti-pattern census (must be empty for every registered
    query; enforced by tests/test_plans.py and the PLANS.md `1part` column).
    """
    plan = physical_plan(df)
    flagged: list[str] = []

    def walk(node: _PlanNode) -> None:
        if node.text.startswith("Exchange SinglePartition") and any(
            _spc_unbounded(c, plan) for c in node.children
        ):
            flagged.append(node.text.split(", [plan_id")[0])
        for c in node.children:
            walk(c)

    for root in _parse_plan_tree(plan):
        walk(root)
    return flagged
