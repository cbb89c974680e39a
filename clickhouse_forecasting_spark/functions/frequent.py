"""Frequent-items (heavy hitters) via partition-local Misra-Gries
summaries — the sketch-pruned exact heavy-hitter pattern.

The classic scale problem: exact top-k over a high-cardinality key needs a
full groupBy of the key universe (the shuffle carries every distinct key).
The sketch path cuts the shuffle to O(partitions × k_sketch):

1. each partition runs a Misra-Gries summary (k_sketch counters) over its
   rows inside ``mapInPandas`` — Arrow-batched, no Python round trips per
   row beyond the batch loop, state is one dict;
2. the per-partition candidate keys union (≤ partitions × k_sketch rows);
3. the fact is re-aggregated ONLY for candidate keys (broadcast semi-join
   filter) to EXACT counts, so the reported set is exact, not estimated.

Guarantee: Misra-Gries keeps every item whose partition-local frequency
exceeds rows_in_partition / k_sketch. An item in the true global top-k
that is hash-distributed across p partitions keeps ≥ its share in at
least one partition whenever its global frequency > n / k_sketch, so
sizing k_sketch ≫ k makes candidate loss practically impossible; the
DuckDB oracle (plain exact top-k) verifies completeness end-to-end at
every fixture scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F


def misra_gries_candidates(df: DataFrame, key: str, k_sketch: int) -> DataFrame:
    """Per-partition Misra-Gries candidate keys (distinct, unioned)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v in pdf[key].to_numpy():
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k_sketch:
                    counters[v] = 1
                else:
                    # decrement-all step: drop zeroed counters
                    dead = []
                    for kk in counters:
                        counters[kk] -= 1
                        if counters[kk] == 0:
                            dead.append(kk)
                    for kk in dead:
                        del counters[kk]
        yield pd.DataFrame({key: list(counters.keys())})

    return df.select(key).mapInPandas(
        summarize, schema=f"{key} {df.schema[key].dataType.simpleString()}"
    ).distinct()


def frequent_above_support(df: DataFrame, key: str, k_sketch: int = 32768) -> DataFrame:
    """EXACT counts of every key whose frequency exceeds n / k_sketch —
    the support-threshold heavy-hitter contract that is provably
    complete under ANY key distribution: a key absent from every
    partition summary was decremented below zero locally, so its global
    count is at most Σ_p n_p/k = n/k; contrapositive: count > n/k ⇒
    the key appears in at least one summary. Candidates then re-count
    exactly and the threshold compares by integer cross-multiplication
    (k·count > n), so the output is hash-exact. (A top-k framing would
    NOT be sketch-safe on near-uniform data — no key need clear the
    guarantee bound; the support contract is the honest one.)"""
    cands = misra_gries_candidates(df, key, k_sketch)
    total = df.select(F.count("*").alias("total"))
    return (
        df.join(F.broadcast(cands), key, "left_semi")
        .groupBy(key)
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.lit(k_sketch) * F.col("n") > F.col("total"))
        .select(key, "n")
    )
