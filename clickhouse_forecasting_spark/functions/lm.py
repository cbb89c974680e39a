"""Corpus bigram language model (CCNet-style quality scoring backbone).

The model is the corpus itself: p(w2 | w1) = count(w1, w2) / count(w1 ·),
held as exact integer ppm so every downstream consumer is hash-gatable.
Two consumers exist today — the per-source quality report
(`bigram_lm_quality`) and the curation funnel's low-LM rule — and both
read the SAME cached train/score stages (per-run persist keyed like the
dedup family's signature stages), so the corpus pays one train pass and
one score pass per run no matter how many queries ask.

Scale: training is one groupBy over the exploded bigrams (map-side
partial aggs); the context totals derive from the model table itself
(c1 = Σ_w2 c2 — never a second corpus pass); scoring is one equi-join of
bigrams back to the model on (w1, w2). The model table grows with bigram
*types* (vocab²-bounded, Zipf-small in practice), so no broadcast is
assumed — sort-merge/shuffle-hash with AQE is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _cached_stage
from .text import tokens


def bigrams(df: DataFrame) -> DataFrame:
    """(doc_id, source, w1, w2) — one row per in-document bigram, built with a
    row-local zip of the token array against its own tail (docs with < 2
    tokens contribute nothing)."""
    toks = df.select(
        F.col("doc_id"), F.col("source"), tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    return toks.select(
        F.col("doc_id"),
        "source",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("b"),
    ).select(F.col("doc_id"), "source", "b.w1", "b.w2")


def bigram_model(df: DataFrame, cache_key=None) -> DataFrame:
    """(w1, w2, p_ppm) — the trained model table, persisted per run when
    cache_key is set. c1 derives from c2 (Σ_w2), so training is exactly
    one corpus pass; checkpointing would be redundant under the persist."""

    def _build() -> DataFrame:
        bg = bigrams(df)
        c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
        c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
        return c2.join(c1, "w1").select(
            "w1", "w2", F.expr("c2 * 1000000 div c1").cast("bigint").alias("p_ppm")
        )

    key = ("lm_model", cache_key) if cache_key is not None else None
    return _cached_stage(df, key, _build)


def doc_scores(df: DataFrame, cache_key=None) -> DataFrame:
    """(doc_id, source, n_bigrams, sum_ppm, mean_ppm) — every document scored
    by its mean bigram probability, exact integer ppm. Cached per run:
    the score join (bigrams ⋈ model) happens once even when several
    queries consume the scores."""

    def _build() -> DataFrame:
        bg = bigrams(df)
        model = bigram_model(df, cache_key)
        return (
            bg.join(model, ["w1", "w2"])
            .groupBy("doc_id", "source")
            .agg(
                F.count("*").cast("bigint").alias("n_bigrams"),
                F.sum("p_ppm").cast("bigint").alias("sum_ppm"),
            )
            .withColumn("mean_ppm", F.expr("sum_ppm div n_bigrams").cast("bigint"))
        )

    key = ("lm_scores", cache_key) if cache_key is not None else None
    return _cached_stage(df, key, _build)
