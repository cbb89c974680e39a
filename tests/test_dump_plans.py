"""tools/dump_plans.py: a dumped plan does not depend on what the session
ran before it."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import __spark_entry__ as entry

_spec = importlib.util.spec_from_file_location(
    "dump_plans", Path(__file__).resolve().parent.parent / "tools" / "dump_plans.py"
)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)


def test_dumping_a_query_twice_gives_identical_text(spark, sf_dir):
    """Expression ids come from a session-wide counter, so the second
    build of a query gets new ones; the dump writes each as ``#N``."""
    build = entry.queries()["tpch_q21_waiting_orders"]
    first, second = (dump_plans.plan_text(build(spark, sf_dir)) for _ in range(2))
    assert "#N" in first and "plan_id=N" in first
    assert first == second
