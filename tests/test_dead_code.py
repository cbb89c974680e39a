"""Guard against library code that nothing calls.

Every public module-level def (function or class) and UPPER_CASE constant
of the package must be referenced from the package, ``bench.py``,
``__spark_entry__.py``, ``tools/`` or ``perfbench/``. A reference is a name
or attribute in the source (an import counts); string constants and
docstrings do not, and neither does a def's own body, a constant's own
assignment or a package ``__init__.py`` re-export (``from .x import f``
only makes ``f`` reachable by another name). Tests are not callers: a def
only a test reaches is dead code with a test attached. ``q_*`` functions are reached through the query
registry, which collects them by prefix.

No Spark: the check reads source files only.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "clickhouse_forecasting_spark"

# unreached defs and constants that stay on purpose, each with its reason
ALLOWED = {
    f"{PACKAGE}.functions.similarity.brute_force_topk":
        "exact verifier of the approximate top-k tests (test_quantized_topk_recall_vs_exact)",
    f"{PACKAGE}.functions.dedup.simhash32":
        "column twin that test_simhash_frame_matches_column_impl checks simhash_signatures against",
    f"{PACKAGE}.plans.bounded_key_fanins":
        "plan census audit of bounded-key fan-ins (test_plans, test_ranking)",
    f"{PACKAGE}.plans.scan_read_schemas":
        "scan ReadSchema audit of projection pushdown (test_plans)",
    f"{PACKAGE}.telemetry.assert_runtime_single_partitions_bounded":
        "runtime single-partition audit (test_runtime_singlepart)",
    # entry points of the README's streaming, incremental-view and data-layout
    # rows: library API for a caller's own streams and tables, no query uses them
    f"{PACKAGE}.streaming.dedup_stream.dedup_stream":
        "watermark-bounded streaming dedup (test_streaming_dedup_within_watermark)",
    f"{PACKAGE}.streaming.join.attribution_join":
        "stream-stream attribution join (test_stream_stream_attribution_join_matches_batch)",
    f"{PACKAGE}.streaming.rollup.enrich_with_static_dim":
        "stream-static broadcast enrichment (test_stream_static_enrichment_join)",
    f"{PACKAGE}.streaming.rollup.stream_upsert_daily":
        "foreachBatch MERGE-upsert sink feeding the forecaster "
        "(test_stream_upsert_daily_matches_batch, test_streamed_rollup_feeds_forecast_pipeline)",
    f"{PACKAGE}.operators.incremental.maintain_daily_rollup":
        "additive incremental-view maintenance (test_incremental_view)",
    f"{PACKAGE}.operators.zorder.write_zordered":
        "Z-order clustered parquet write (test_zordered_files_are_narrow_in_both_dims)",
    f"{PACKAGE}.streaming.kafka_shape.KAFKA_WIRE_SCHEMA":
        "the kafka source's wire schema; test_kafka_shape checks the file-backed "
        "wire double against it and streams the double with it",
}


def _caller_files() -> list[Path]:
    files = sorted((ROOT / PACKAGE).rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _public_names(node: ast.stmt) -> list[str]:
    """Public names a module-level statement defines: a function or class
    not named ``_*``/``q_*``, or an UPPER_CASE constant."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [] if node.name.startswith(("_", "q_")) else [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        t.id for t in targets
        if isinstance(t, ast.Name) and t.id.isupper() and not t.id.startswith("_")
    ]


def unreached_defs() -> set[str]:
    """Dotted names of the package's public module-level defs that no
    caller references outside the def's own body."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _caller_files()}
    defs: dict[str, list[tuple[str, Path, ast.AST]]] = {}
    for path, tree in trees.items():
        if not path.is_relative_to(ROOT / PACKAGE):
            continue
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        module = module.removesuffix(".__init__")
        for node in tree.body:
            for name in _public_names(node):
                defs.setdefault(name, []).append((f"{module}.{name}", path, node))
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        reexports = path.name == "__init__.py" and path.is_relative_to(ROOT / PACKAGE)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name, line = node.id, node.lineno
            elif isinstance(node, ast.Attribute):
                name, line = node.attr, node.lineno
            elif isinstance(node, ast.ImportFrom):
                if reexports:
                    continue
                for alias in node.names:
                    if alias.name in defs:
                        refs.setdefault(alias.name, []).append((path, node.lineno))
                continue
            else:
                continue
            if name in defs:
                refs.setdefault(name, []).append((path, line))
    dead = set()
    for name, sites in defs.items():
        for dotted, path, node in sites:
            # every reference (if any) lies in the def's own body
            if all(
                p == path and node.lineno <= line <= node.end_lineno
                for p, line in refs.get(name, [])
            ):
                dead.add(dotted)
    return dead


def test_no_unreached_public_defs():
    dead = unreached_defs()
    new = sorted(dead - set(ALLOWED))
    assert not new, (
        f"{len(new)} public def(s) or constant(s) that nothing references; delete "
        "them (and any test that only covers them) or use them:\n  " + "\n  ".join(new)
    )
    stale = sorted(set(ALLOWED) - dead)
    assert not stale, f"allowlisted defs that are now called or gone: {stale}"
