"""Guard against library parameters that take one value.

A defaulted parameter of a package function that every caller leaves at
its default, or sets to the same literal, is an option with one value in
use: it widens the configuration space tests must cover and buys nothing,
so it should be a constant or a literal. Callers are the same as in
``tests/test_dead_code.py``: the package, ``bench.py``,
``__spark_entry__.py``, ``tools/`` and ``perfbench/``; tests are not
callers, and a def no caller reaches is that guard's business.

A call ``f(...)`` or ``x.f(...)`` reaches the def named ``f`` (a class call
reaches its ``__init__``). A call with ``*args`` or ``**kwargs`` passes every
parameter; so does any other reference to the name (a function handed to
Spark, ``partial`` or a registry), and a name that two defs share is not
checked. A value passed through a variable counts as its own value. Each
parameter that stays is listed in ``ALLOWED`` with its reason: a deployment
setting, or a test seam (a cap or size a test moves to reach a fail-loud or
multi-partition path at toy size, or a reference path a test compares
against).

No Spark: the check reads source files only.
"""

from __future__ import annotations

import ast
from dataclasses import dataclass, field
from pathlib import Path

from tests.test_dead_code import PACKAGE, ROOT, _caller_files

_DEPLOYMENT = "deployment setting"
_PARTITIONS = (
    "test seam: tests/test_properties.py forces 7 range partitions so the "
    "cross-partition stitch runs at toy size"
)

# single-valued parameters that stay on purpose, each with its reason
ALLOWED: dict[str, str] = {
    f"{PACKAGE}.cli.main:argv": "the command line; tests pass their own",
    f"{PACKAGE}.session.build_session:master": _DEPLOYMENT,
    f"{PACKAGE}.session.build_session:shuffle_partitions": _DEPLOYMENT,
    f"{PACKAGE}.telemetry.configure_logging:log_path": _DEPLOYMENT,
    f"{PACKAGE}.telemetry.configure_logging:level": _DEPLOYMENT,
    f"{PACKAGE}.functions.dedup.connected_components:max_iterations":
        "test seam: test_label_propagation_refuses_unconverged lowers the round "
        "budget to reach the fail-loud path",
    f"{PACKAGE}.functions.dedup.minhash_lsh_candidates:max_band_occupancy":
        "test seam: test_band_occupancy_guard_fails_loudly_on_degenerate_corpus lowers it",
    f"{PACKAGE}.functions.frequent.frequent_above_support:k_sketch":
        "test seam: test_guarantee_survives_eviction lowers it to force the "
        "Misra-Gries decrement path",
    f"{PACKAGE}.functions.similarity.hyperplane_near_dup_pairs:max_bucket_occupancy":
        "test seam: test_hyperplane_bucket_occupancy_guard_fails_loudly lowers it",
    f"{PACKAGE}.functions.similarity.ivf_exact_cells:lloyd_iters":
        "test seam: test_ivf_exactness_guard_fires_on_oversized_magnitudes skips training",
    f"{PACKAGE}.functions.similarity.ivf_exact_cells:scale":
        "test seam: test_ivf_exactness_guard_fires_on_oversized_magnitudes raises it "
        "past the exactness bound",
    f"{PACKAGE}.functions.similarity.ivf_near_dup_pairs:max_cell_occupancy":
        "test seam: test_ivf_near_dup_pairs_guard_fires_on_hot_cell lowers it",
    f"{PACKAGE}.functions.similarity.ivf_near_dup_pairs:n_cells":
        "test seam: test_ivf_multi_assign_recall_knob sizes the cells to its corpus",
    f"{PACKAGE}.functions.similarity.ivf_near_dup_pairs:threshold":
        "test seam: test_ivf_multi_assign_recall_knob counts every candidate",
    f"{PACKAGE}.operators.asof.asof_join:strategy":
        "'global' is the reference path test_asof_strategies_agree checks the "
        "bucketed path against",
    f"{PACKAGE}.operators.graph.connected_components_star:max_rounds":
        "test seam: test_star_cc_refuses_unconverged lowers it",
    f"{PACKAGE}.operators.graph.pagerank:max_driver_edges":
        "test seam: test_pagerank_bounded_dispatch_routes_by_size lowers it to "
        "force the distributed path",
    f"{PACKAGE}.operators.ranking.global_ntile:num_partitions": _PARTITIONS,
    f"{PACKAGE}.operators.ranking.global_rank:num_partitions": _PARTITIONS,
    f"{PACKAGE}.operators.ranking.global_running_max:num_partitions": _PARTITIONS,
    f"{PACKAGE}.operators.ranking.grouped_running_sum:num_partitions": _PARTITIONS,
    f"{PACKAGE}.operators.ranking.grouped_top_k:num_partitions": _PARTITIONS,
    f"{PACKAGE}.operators.ranking.grouped_row_number:max_groups":
        "test seam: test_grouped_primitives_cardinality_guard_fires lowers it",
    f"{PACKAGE}.operators.ranking.grouped_running_sum:max_groups":
        "test seam: test_grouped_primitives_cardinality_guard_fires lowers it",
    f"{PACKAGE}.operators.ranking.global_rank:dispatch":
        "the ranking primitives' dispatch flag (callers set both values on the "
        "other primitives); it moves only with isolated A/Bs, ROADMAP item 6",
    f"{PACKAGE}.queries.dedup_ann_scale._ivf_near_dup_sql:occ_bound":
        "test seam: test_sql_twin_occupancy_guard_fires lowers it",
    f"{PACKAGE}.runtime_cache.release:token":
        "test seam: tests release only their own corpus token or cache family",
    f"{PACKAGE}.streaming.sessionize.sessionize_stream:ttl_seconds":
        "test seam: test_stateful_sessionization_matches_batch and "
        "test_sessionize_event_time_ttl_expires_idle_state run the no-TTL control",
    f"{PACKAGE}.streaming.topk.sliding_type_counts:watermark":
        "test seam: test_streaming_topk_watermark_bounds_state lowers it so append "
        "mode closes windows inside the fixture's span",
}


@dataclass
class _Def:
    qualname: str
    params: list[tuple[str, int | None, str]]  # (name, positional index, default)
    values: dict[str, set[str]] = field(default_factory=dict)
    escapes: bool = False


def _defs(trees: dict[Path, ast.Module]) -> dict[str, list[_Def]]:
    """Package functions and methods with their defaulted parameters, by
    the name a call uses (a class's name for its ``__init__``)."""
    out: dict[str, list[_Def]] = {}
    for path, tree in trees.items():
        if not path.is_relative_to(ROOT / PACKAGE):
            continue
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        module = module.removesuffix(".__init__")
        found = [(None, n) for n in tree.body]
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                found += [(node.name, n) for n in node.body]
        for owner, node in found:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            offset = 0
            if owner is not None and not any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in node.decorator_list
            ):
                offset = 1  # self / cls
            first = len(positional) - len(a.defaults)
            params = [
                (p.arg, i - offset, ast.unparse(d))
                for i, (p, d) in enumerate(zip(positional[first:], a.defaults), start=first)
            ]
            params += [
                (p.arg, None, ast.unparse(d))
                for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            call_name = owner if node.name == "__init__" else node.name
            qual = f"{module}.{owner}.{node.name}" if owner else f"{module}.{node.name}"
            out.setdefault(call_name, []).append(_Def(qual, params))
    return out


def census() -> dict[str, tuple[str, set[str]]]:
    """Every defaulted parameter of an unambiguous package def that some
    caller reaches, as ``{"module.func:param": (default, values)}``.
    ``values`` holds the source text of each value a call passes, plus
    ``"<default>"`` when some call leaves the parameter out."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _caller_files()}
    defs = _defs(trees)
    called: set[int] = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name not in defs or len(defs[name]) != 1:
                continue
            called.add(id(f))
            d = defs[name][0]
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                d.escapes = True
                continue
            keywords = {k.arg: k.value for k in node.keywords}
            for pname, index, _ in d.params:
                if pname in keywords:
                    value = ast.unparse(keywords[pname])
                elif index is not None and index < len(node.args):
                    value = ast.unparse(node.args[index])
                else:
                    value = "<default>"
                d.values.setdefault(pname, set()).add(value)
    # any other reference hands the function to code that may set anything
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                name = node.id
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                name = node.attr
            else:
                continue
            if name in defs and len(defs[name]) == 1 and id(node) not in called:
                defs[name][0].escapes = True
    return {
        f"{d.qualname}:{pname}": (default, d.values[pname])
        for (d,) in (sites for sites in defs.values() if len(sites) == 1)
        if not d.escapes and d.values  # no caller at all: test_dead_code's domain
        for pname, _, default in d.params
    }


def _literal(text: str) -> str | None:
    try:
        return repr(ast.literal_eval(text))
    except (ValueError, SyntaxError):
        return None


def never_passed() -> set[str]:
    """Defaulted parameters that no call sets."""
    return {name for name, (_, values) in census().items() if values == {"<default>"}}


def one_literal() -> set[str]:
    """Defaulted parameters that some call sets, where every call passes
    the same literal value (leaving the parameter out counts as passing
    its default)."""
    out = set()
    for name, (default, values) in census().items():
        if values == {"<default>"}:
            continue
        lits = {_literal(default if v == "<default>" else v) for v in values}
        if len(lits) == 1 and None not in lits:
            out.add(name)
    return out


def test_no_unset_defaulted_params():
    new = sorted(never_passed() - set(ALLOWED))
    assert not new, (
        f"{len(new)} defaulted parameter(s) that no caller passes; make each a "
        "constant or a literal (and drop tests that only cover other values), "
        "or allowlist it with its reason:\n  " + "\n  ".join(new)
    )


def test_no_single_literal_params():
    new = sorted(one_literal() - set(ALLOWED))
    assert not new, (
        f"{len(new)} defaulted parameter(s) that every caller sets to one "
        "literal; make each a constant or a literal, or allowlist it with "
        "its reason:\n  " + "\n  ".join(new)
    )


def test_allowlist_is_current():
    stale = sorted(set(ALLOWED) - never_passed() - one_literal())
    assert not stale, f"allowlisted parameters that now take several values or are gone: {stale}"
