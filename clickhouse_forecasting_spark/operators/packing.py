"""Sequence packing for LLM-training pipelines.

Two deterministic policies for filling fixed-size context windows from a
sharded corpus (the step between curation and the trainer's data loader):

- :func:`pack_concat_chunks` — concat-and-chunk: all tokens of a shard,
  in doc_id order, are conceptually concatenated and cut every ``BUDGET``
  tokens; a document may straddle a cut. Closed-form over window cumsums,
  so it stays in built-in SQL (whole-stage codegen) on any engine and has
  an exact DuckDB twin.
- :func:`pack_first_fit` — greedy sequential fill: documents append to
  the current bin until the next one would overflow, then a new bin
  opens; an oversize document occupies a bin alone. The recurrence is
  inherently sequential per shard, so it runs as `applyInPandas` with
  one group per shard — the idiomatic Spark shape for a per-shard scan.

Scale design: the shard column is the unit of parallelism. At 100 TB the
sharding policy (hash of doc_id into ~10^4-10^5 shards) bounds each
group to what one worker comfortably scans; the documents table's
``source`` column plays that role here. Both policies are pure functions of
(shard, doc_id, token_count), so results are reproducible across runs
and engines — first-fit is oracle-checked by a recursive CTE that
advances every shard one document per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tokens per packed context window
BUDGET = 256
# RAG chunking: 128-token windows advancing by 64 (50% overlap)
CHUNK, STRIDE = 128, 64


def token_lengths(df: DataFrame) -> DataFrame:
    """(source, doc_id, n_tokens) of a documents frame with the corpus-standard whitespace tokenizer
    (same as corpus_token_budget). Zero-token docs are dropped: they add
    nothing to any bin, and keeping them would force both engines to
    agree on empty-sequence semantics for no modeling benefit."""
    n_tokens = F.size(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    ).cast("bigint")
    return (
        df.select(F.col("source"), F.col("doc_id"), n_tokens.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )


def pack_concat_chunks(df: DataFrame) -> DataFrame:
    """Concat-and-chunk packing report, one row per (shard, bin):
    n_docs docs touch the bin, n_carry of them started in an earlier bin
    (straddlers), bin_tokens tokens land in it (== budget except the
    shard's final partial bin). One window cumsum per shard + one
    bounded explode (a doc spans at most n_tokens/budget + 1 bins)."""
    from . import ranking as _rk

    toks = token_lengths(df)
    # per-shard exclusive cumsum via the DISTRIBUTED grouped running sum
    # (ranged order + broadcast per-shard rebase): a plain
    # Window.partitionBy(shard) fans each shard's documents into one
    # task — fine at the documented 10^4-10^5-shard production policy,
    # a 5-task collapse on enum-sharded fixtures; the grouped form is
    # scale-safe in BOTH regimes. Exclusive = inclusive − own (n_tokens
    # is non-null by construction).
    cum = _rk.grouped_running_sum(
        toks, ["source"], ["doc_id"], ["n_tokens"], ["__pk_cs"]
    )
    spans = (
        cum.withColumn(
            "cum_before",
            (F.col("__pk_cs") - F.col("n_tokens")).cast("bigint"),
        )
        .drop("__pk_cs")
        .withColumn("first_bin", F.expr(f"cum_before div {BUDGET}"))
        .withColumn("last_bin", F.expr(f"(cum_before + n_tokens - 1) div {BUDGET}"))
    )
    binned = spans.select(
        F.col("source"),
        "n_tokens",
        "cum_before",
        "first_bin",
        F.explode(F.sequence("first_bin", "last_bin")).alias("bin_id"),
    )
    b = F.lit(BUDGET).cast("bigint")
    overlap = F.least(
        (F.col("bin_id") + 1) * b, F.col("cum_before") + F.col("n_tokens")
    ) - F.greatest(F.col("bin_id") * b, F.col("cum_before"))
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("first_bin") < F.col("bin_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_carry"),
            F.sum(overlap).cast("bigint").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


def pack_first_fit(df: DataFrame) -> DataFrame:
    """Greedy next-fit bin assignment, one row per document:
    (source, doc_id, n_tokens, bin_id). Documents are taken in id order per
    shard; a doc joins the current bin iff fill + n_tokens <= BUDGET,
    else a new bin opens (so an oversize doc sits alone in its bin and
    no bin except those ever exceeds BUDGET).

    The per-shard fill recurrence cannot be expressed with plain window
    functions (each bin boundary depends on the previous boundary), so
    it runs in `applyInPandas` — one sequential scan per shard group,
    Arrow-batched, with everything before/after it staying JVM-side."""
    toks = token_lengths(df)
    schema = "source string, doc_id bigint, n_tokens bigint, bin_id bigint"

    def _pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        for t in pdf["n_tokens"]:
            if fill > 0 and fill + t > BUDGET:
                bin_id += 1
                fill = 0
            fill += int(t)
            bins.append(bin_id)
        pdf["bin_id"] = bins
        return pdf[["source", "doc_id", "n_tokens", "bin_id"]]

    return (
        toks.groupBy("source")
        .applyInPandas(_pack, schema)
        .orderBy("source", "doc_id")
    )


def chunk_overlap_manifest(df: DataFrame) -> DataFrame:
    """RAG-style sliding-window chunking report, one row per shard.

    Every document splits into windows of CHUNK tokens advancing by
    STRIDE (overlap = CHUNK - STRIDE); the last window may be partial.
    k = 1 + max(0, ceil((n - CHUNK) / STRIDE)) windows cover all tokens.
    The report gives, per shard: docs, corpus tokens, window count, total
    window tokens, the index amplification the overlap costs a vector
    store (expansion ppm), and the share of full windows.

    Per-doc window sums fold ROW-LOCALLY with ``aggregate`` over the
    window-index sequence (≤ n/stride + 1 entries) — no explode row
    blow-up, no per-doc shuffle; the only exchange is the final per-shard
    rollup with map-side combine. Exact integer arithmetic end-to-end."""
    toks = token_lengths(df)
    per_doc = toks.select(
        F.col("source"),
        "n_tokens",
        F.expr(
            f"1 + greatest(0L, (n_tokens - {CHUNK} + {STRIDE} - 1) div {STRIDE})"
        ).alias("k"),
    ).select(
        F.col("source"),
        "n_tokens",
        "k",
        F.expr(
            f"aggregate(sequence(0L, k - 1), 0L,"
            f" (acc, i) -> acc + least({CHUNK}L, n_tokens - i * {STRIDE}L))"
        ).alias("win_tokens"),
        F.expr(
            f"aggregate(sequence(0L, k - 1), 0L, (acc, i) ->"
            f" acc + CASE WHEN n_tokens - i * {STRIDE}L >= {CHUNK}L"
            f" THEN 1L ELSE 0L END)"
        ).alias("full_windows"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("k").cast("bigint").alias("n_windows"),
            F.sum("win_tokens").cast("bigint").alias("window_tokens"),
            F.expr("sum(win_tokens) * 1000000 div sum(n_tokens)")
            .cast("bigint")
            .alias("expansion_ppm"),
            F.expr("sum(full_windows) * 1000000 div sum(k)")
            .cast("bigint")
            .alias("full_share_ppm"),
        )
        .orderBy("source")
    )
