"""Dump .explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> <query> [query ...]
       (sf_dir from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)

Exchange ids are written as ``plan_id=N`` and expression ids as ``#N``:
Spark numbers both from session-wide counters, so the raw values shift with
whatever ran earlier in the session and two dumps of one plan would not
compare equal with ``cmp``. A plan with several DISTINCT aggregates still
differs between two builds: Spark numbers its Expand groups in the hash
order of id-bearing expressions (e.g. ``dau_wau_stickiness``), so such
dumps compare equal only up to that group order.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    """``df``'s formatted plan with its session-counter ids normalized."""
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return re.sub(r"#\d+", "#N", re.sub(r"plan_id=\d+", "plan_id=N", txt))


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from clickhouse_forecasting_spark.session import build_session

    spark = build_session(
        "dump_plans", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    qs = entrymod.queries()
    failures: list[str] = []
    for name in names:
        if name not in qs:
            # ADVICE r11: an unknown query name must fail the tool, not
            # write a plausible-looking "<no batch plan>" file
            print(f"ERROR: unknown query {name!r}", file=sys.stderr)
            failures.append(name)
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            txt = plan_text(qs[name](spark, sf_dir))
        except Exception as exc:
            # Only a genuinely plan-less result (streaming replays whose
            # memory-sink frame outlived the query, Py4J explain errors on
            # non-batch plans) gets the placeholder; an ANALYSIS failure
            # means the query itself is broken and the tool must say so
            # (ADVICE r11: the bare except swallowed real query bugs).
            from pyspark.errors import AnalysisException

            if isinstance(exc, AnalysisException):
                print(f"ERROR: {name} failed analysis: {exc}", file=sys.stderr)
                failures.append(name)
                continue
            txt = f"<no batch plan: {exc}>\n"
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} ({suffix})\n{txt}")
        print(f"wrote {path}", file=sys.stderr)
    if failures:
        sys.exit(f"dump_plans: {len(failures)} query(ies) failed: {failures}")


if __name__ == "__main__":
    main()
