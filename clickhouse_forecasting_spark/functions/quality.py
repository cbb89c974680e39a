"""Declarative data-quality expectations — a one-pass constraint checker.

The reference's only quality mechanism is the empty-input guard
(`forecast_script.py:160-163`); a real pipeline gates ingestion on
declared constraints. The design contract here is ONE scan for any number
of row-level rules: every rule becomes a conditional-count aggregate in a
single `agg()`, so checking 50 expectations on 100 TB costs exactly one
pass with map-side partials — never one job per rule (the naive
filter().count() loop is O(rules) scans).

Key-uniqueness is not row-local, so it gets its own helper built on the
same one-shuffle groupBy the exact-dedup operator uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_expectations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate named boolean pass-predicates in ONE aggregation pass.

    Returns a long summary: (rule, n_rows, n_violations, pass_rate) —
    one row per rule, ordered by rule name. NULL predicate results count
    as violations (a rule that cannot be evaluated did not pass). Empty
    input yields n_violations = 0 per rule (not NULL), so downstream
    gates comparing against 0 stay sound. Rule names are data, not SQL:
    they are positionally indexed internally and may contain any
    characters except a single quote.
    """
    if not rules:
        raise ValueError("check_expectations requires at least one rule")
    names = list(rules)
    for n in names:
        if "'" in n:
            raise ValueError(f"rule name may not contain a quote: {n!r}")
    aggs = [
        F.coalesce(
            F.sum(F.when(F.coalesce(rule, F.lit(False)), 0).otherwise(1)),
            F.lit(0),
        ).alias(f"v_{i}")
        for i, rule in enumerate(rules.values())
    ]
    row = df.agg(F.count("*").alias("n_rows"), *aggs)
    stack_args = ", ".join(f"'{name}', v_{i}" for i, name in enumerate(names))
    return (
        row.select(
            "n_rows",
            F.expr(
                f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)"
            ),
        )
        .select(
            "rule",
            "n_rows",
            "n_violations",
            F.round(
                (F.col("n_rows") - F.col("n_violations"))
                / F.greatest(F.col("n_rows"), F.lit(1)).cast("double"),
                6,
            ).alias("pass_rate"),
        )
        .orderBy("rule")
    )
