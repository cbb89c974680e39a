"""Iterative graph analytics on DataFrames: weighted PageRank.

The reference engine has no graph surface (SURVEY §2.6); this extends the
derived-graph analytics family (dedup connected components, Markov
transitions, triangle census) with the canonical iterative algorithm.

Design for scale:
- The edge list stays a DataFrame end-to-end; each iteration is one
  join (ranks ⋈ out-normalized edges) + one groupBy — the standard
  shuffle-bound PageRank dataflow that scales with the edge count.
- Out-weight normalization is computed ONCE before the loop.
- Lineage is cut with ``localCheckpoint`` every iteration: without it the
  plan doubles per iteration and Catalyst analysis time explodes by ~k².
- Dangling-node mass (sinks with no out-edges) is redistributed uniformly
  each iteration — a one-scalar aggregate, not a per-row fix-up — so
  ranks always sum to 1 and the result matches the textbook formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ranking import probe_rows

# PageRank runs a fixed 10-round power iteration with the textbook damping
# factor; both paths (driver and distributed) use the same literals.
ITERATIONS = 10
DAMPING = 0.85


def bfs_distances(edges: DataFrame, source) -> DataFrame:
    """Minimum-hop BFS distances from ``source`` over a directed (src, dst)
    edge list.

    Returns ``(node, dist)`` for every node reachable within 4 hops
    (the source itself at dist 0). Classic frontier expansion: each round
    is one join (frontier ⋈ edges) + one anti-join against the visited
    set — both shuffle on the node key, so a round costs O(|frontier
    out-edges|) regardless of graph size. Lineage is cut per round with
    ``localCheckpoint`` (same k²-analysis-blowup fix as pagerank above).
    """
    spark = edges.sparkSession
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst")).persist()
    visited = spark.createDataFrame(
        [(source, 0)], f"node {edges.schema['src'].dataType.simpleString()}, dist int"
    )
    frontier = visited.select("node")
    try:
        for hop in range(1, 5):
            nxt = (
                frontier.join(e, frontier.node == e.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("dist", F.lit(hop))
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            visited = visited.union(nxt).localCheckpoint(eager=True)
            frontier = nxt.select("node")
    finally:
        e.unpersist()
    return visited


def pagerank(
    edges: DataFrame,
    *,
    max_driver_nodes: int = 10_000,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """PageRank over a directed (src, dst, volume) edge list, weighted by
    volume.

    Returns a DataFrame ``(node, rank)`` with ranks summing to 1.

    Size-adaptive dispatch (r9 VERDICT #1): a BOUNDED graph — node and
    edge counts under ``max_driver_nodes`` / ``max_driver_edges``, the
    derived-dimension case (nation trade, domain link graphs) — runs the
    power iteration on the driver in numpy instead of paying k rounds of
    distributed scheduling on a few hundred rows. This collects STRICTLY
    LESS data than the distributed small-state path ships: the broadcast
    hints below already collect the full rank state to the driver every
    round (k broadcasts of n rows vs ONE collect of the ≤max_driver_edges
    normalized edge list here), so the fast path is the same routing
    decision operators/ranking.dispatch_small documents, applied to an
    iterative operator. Identical float algebra per element (same literal
    constants, same expression tree); cross-row sums reassociate exactly
    like any shuffle repartitioning does (~1e-16, absorbed by the 6dp
    query rounding and pinned ≤1e-12 against the distributed path by
    tests/test_graph.py). Set ``max_driver_nodes=0`` to force the
    distributed loop; large graphs route there automatically.
    """
    e = edges.select(
        F.col("src").alias("src"),
        F.col("dst").alias("dst"),
        F.col("volume").cast("double").alias("w"),
    ).persist()

    # NOT persisted yet: the bounded fast path touches it exactly once
    # (through the probe below); the distributed branch persists it.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # one fused dispatch probe instead of separate count jobs: the flagged
    # node list under a limit(cap+1) yields n, the dangling flags AND the
    # node values in ONE job — ≤ cap rows means we hold the COMPLETE node
    # set and can route to the driver iteration without any further
    # driver-side state (out_w is unique per src, so the join is 1:≤1).
    # probe_rows is the ONE shared limit-guarded probe (r10 VERDICT #6).
    flagged = nodes.join(
        out_w.withColumnRenamed("src", "node"), "node", "left"
    ).select("node", F.col("out_w").isNull().alias("__dangling"))
    probe = probe_rows(flagged, max_driver_nodes)
    if probe is not None and len(probe) == 0:
        e.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("frac")
    )

    if probe is not None:
        # same limit-guarded probe for the edges: a row list back means
        # the complete normalized edge list is on the driver
        edge_rows = probe_rows(norm, max_driver_edges)
        if edge_rows is not None:
            result = _pagerank_bounded(nodes, probe, edge_rows)
            e.unpersist()
            return result

    # distributed loop: (re-)derive the scalars it needs in one job.
    # The empty-graph early return happens BEFORE the persist (ADVICE
    # r10: with max_driver_nodes=0 it used to leak the persisted
    # empty-nodes frame for the session).
    stats = flagged.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("__dangling"), 1).otherwise(0)).alias("nd"),
    ).collect()[0]
    n, n_dangling = int(stats.n), int(stats.nd or 0)
    if n == 0:
        e.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    nodes = nodes.persist()

    norm = norm.persist()
    # dangling (sink) node set: computed ONCE and persisted — the per-
    # iteration mass probe must not re-derive it (that would re-run the
    # upstream edge aggregation every round). Derived from the SAME
    # ``out_w IS NULL`` flag the dispatch probe uses (ADVICE r11): a src
    # whose weights are ALL NULL has out_w NULL — its contributions are
    # NULL-dropped by the sum below, so it is effectively a sink and its
    # mass must be redistributed; the previous left_anti on out_w srcs
    # kept such nodes out of the dangling set and silently leaked their
    # mass (ranks no longer summed to 1), diverging from the bounded
    # driver path.
    dangling_nodes = (
        flagged.where(F.col("__dangling")).select("node").persist()
    )

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    # rank state is O(nodes): when the node set is small (but over the
    # driver-dispatch cap), hint both per-iteration joins to broadcast it,
    # turning each round into one shuffle (the contribution groupBy)
    # instead of three. Large graphs keep the shuffle-join dataflow.
    small_state = n <= 100_000
    hint = F.broadcast if small_state else (lambda df: df)
    round_persists: list[DataFrame] = []
    try:
        for it in range(ITERATIONS):
            if n_dangling:
                # the dangling-mass aggregate references `ranks` a SECOND
                # time each round; persist the round's input so both
                # references share one materialization — without this the
                # un-checkpointed subplan recomputes ~2^interval times
                # between lineage cuts (ADVICE r9).
                ranks = ranks.persist()
                round_persists.append(ranks)
            contribs = (
                norm.join(hint(ranks), norm.src == ranks.node)
                .select("dst", (F.col("rank") * F.col("frac")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("c"))
            )
            joined = nodes.join(hint(contribs), nodes.node == contribs.dst, "left")
            # mass sitting on dangling nodes rides IN-PLAN as a broadcast
            # one-row aggregate (r8 VERDICT task #2): the previous
            # driver-side collect of this scalar forced a materialization
            # every round, defeating the checkpoint cadence on any graph
            # with sinks. Same aggregation, same IEEE division by n — the
            # redistributed value is numerically identical; the loop is
            # now pure plan-building between cuts for ALL graphs.
            if n_dangling:
                dm = (
                    ranks.join(dangling_nodes, "node", "left_semi")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
                )
                joined = joined.crossJoin(F.broadcast(dm))
                dangling_term = F.col("__dm") / F.lit(float(n))
            else:
                dangling_term = F.lit(0.0)
            ranks = joined.select(
                "node",
                (
                    F.lit((1.0 - DAMPING) / n)
                    + F.lit(DAMPING)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + dangling_term)
                ).alias("rank"),
            )
            # lineage cut every 2 rounds (and on the last): plan depth
            # stays bounded while paying one materialization job per 2
            # rounds instead of one per round.
            if (it + 1) % 2 == 0 or it == ITERATIONS - 1:
                ranks = ranks.localCheckpoint(eager=True)
                # the cut materialized everything upstream; the per-round
                # persists are dead weight from here on
                for df in round_persists:
                    df.unpersist()
                round_persists.clear()
    finally:
        e.unpersist()
        nodes.unpersist()
        norm.unpersist()
        dangling_nodes.unpersist()
        for df in round_persists:
            df.unpersist()
    return ranks


def _pagerank_bounded(nodes: DataFrame, probe: list, edge_rows: list) -> DataFrame:
    """Driver power iteration for BOUNDED graphs (see pagerank docstring):
    the dispatch probe already collected the flagged node list and the
    normalized edge list; k numpy rounds with the same per-element float
    algebra as the in-plan loop, one createDataFrame. Scatter-add
    (np.add.at) plays the role of the contribution groupBy; cross-row sum
    order differs from a shuffle's exactly as one shuffle's order differs
    from another's."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    node_field = nodes.schema["node"]
    node_vals = [r.node for r in probe]
    dangling_mask = np.fromiter(
        (bool(r["__dangling"]) for r in probe), dtype=bool, count=len(probe)
    )
    n = len(node_vals)
    n_dangling = int(dangling_mask.sum())
    idx = {v: i for i, v in enumerate(node_vals)}
    # NULL frac (a src whose weights sum to zero: w/out_w divides by zero
    # → SQL NULL) — the distributed loop's sum() silently drops those
    # contributions, so the driver path must match that degrade semantics
    # instead of crashing on float(None) (ADVICE r10).
    edge_rows = [r for r in edge_rows if r.frac is not None]
    m = len(edge_rows)
    src_i = np.fromiter((idx[r.src] for r in edge_rows), dtype=np.int64, count=m)
    dst_i = np.fromiter((idx[r.dst] for r in edge_rows), dtype=np.int64, count=m)
    frac = np.fromiter((r.frac for r in edge_rows), dtype=np.float64, count=m)
    rank = np.full(n, 1.0 / n)
    base = (1.0 - DAMPING) / n  # same Python-float literal as the plan's F.lit
    for _ in range(ITERATIONS):
        dm = float(rank[dangling_mask].sum()) if n_dangling else 0.0
        contrib = np.zeros(n)
        np.add.at(contrib, dst_i, rank[src_i] * frac)
        rank = base + DAMPING * (contrib + dm / float(n))
    schema = StructType(
        [
            StructField("node", node_field.dataType, node_field.nullable),
            StructField("rank", DoubleType(), False),
        ]
    )
    spark = nodes.sparkSession
    # few fat slices, not defaultParallelism empty ones: a ≤10k-row local
    # relation split 32 ways pays 32 task launches per downstream stage
    # (measured ~0.4s vs ~0.25s for the whole result collect)
    slices = max(1, n // 2048)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(v, float(rank[i])) for i, v in enumerate(node_vals)], slices
        ),
        schema,
    )


def _free_local_checkpoint(df: DataFrame) -> None:
    """Synchronously release the storage blocks behind an eagerly
    localCheckpointed frame that is PROVABLY dead (nothing will ever
    execute it again — a localCheckpoint has no lineage to recompute
    from, so freeing a live one would crash its next action). The
    checkpointed plan is a LogicalRDD wrapping the materialized RDD;
    unpersisting that RDD drops the blocks and deregisters it now,
    instead of after the py4j finalizer + ContextCleaner round-trip.
    Best-effort: an unexpected plan shape falls back to the GC path."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components_star(
    pairs: DataFrame, *, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Connected components of an (id_a, id_b) pair list via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the O(log n)-round algorithm for graphs whose DIAMETER is too large
    for per-hop label propagation (functions/dedup.connected_components
    moves the min ONE hop per round, so a k-long dup chain costs k
    rounds; the star steps hang whole subtrees under the local min, so
    chains collapse in ~log2(k) rounds).

    Both steps are pure join + groupBy-min — NO collect_set, so per-key
    state is a scalar even for hub nodes, and shuffle volume is the
    edge list:

        large-star(u): every neighbor v > u re-points at
            m = min(N(u) + {u})
        small-star(u): every neighbor v <= u (and u itself) re-points
            at the min over those

    Convergence = the canonical edge multiset stops changing (one
    scalar signature aggregate per round — labels never reach the
    driver). Returns ((id, component) with component = min id, rounds).
    """
    from pyspark import StorageLevel

    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _sym(edges: DataFrame) -> DataFrame:
        # r11 (guide §1.3): explode emits both directions from ONE read
        # of the input — the union-of-two-selects form executed the
        # (unmaterialized) upstream star pipeline twice per reference
        return (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u"), F.col("v")),
                        F.struct(
                            F.col("v").alias("u"), F.col("u").alias("v")
                        ),
                    )
                ).alias("p")
            )
            .select("p.u", "p.v")
        )

    def _large_star(edges: DataFrame) -> DataFrame:
        s = _sym(edges)
        mins = s.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            s.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        s = _sym(edges).where(F.col("v") <= F.col("u"))
        mins = s.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        pointed = (
            s.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
        )
        return pointed.where(F.col("u") != F.col("v")).distinct()

    def _sig(edges: DataFrame):
        row = edges.agg(
            F.count("*").alias("n"),
            # pmod keeps each term < 2^31 so the ANSI-mode sum cannot
            # overflow for any realistic edge count
            F.coalesce(
                F.sum(
                    F.pmod(
                        F.xxhash64(F.col("u"), F.col("v")),
                        F.lit(2_147_483_647).cast("bigint"),
                    )
                ),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    sig = _sig(e)
    initial_e = e  # backs `nodes` recomputation in the returned frame
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # cut between the stars: _small_star references its input 3x
        # (the mins aggregate, the re-point join, and the mins union) —
        # un-checkpointed, each reference re-executed the whole
        # large-star join+groupBy+distinct (r11, guide §1.3). persist
        # (not a second localCheckpoint) so the round's intermediate can
        # be DROPPED once `e` is materialized — the r11 form left every
        # round's half-step blocks resident until JVM GC reclaimed the
        # frame (ADVICE r11), doubling executor storage per round. The
        # lineage behind `half` is one star step over the previous
        # round's checkpoint, so skipping the lineage cut is free.
        half = _large_star(e).persist(StorageLevel.MEMORY_AND_DISK)
        new_e = _small_star(half).localCheckpoint(eager=True)
        half.unpersist()
        if e is not initial_e:
            # the superseded round's checkpoint blocks are provably dead:
            # new_e is itself checkpointed (no lineage back), the round's
            # signature was already collected, and nothing else holds the
            # frame — free them now instead of waiting for GC +
            # ContextCleaner (ADVICE r11). initial_e stays: the returned
            # comps frame recomputes `nodes` from it after the unpersist
            # below.
            _free_local_checkpoint(e)
        e = new_e
        new_sig = _sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        # Same hardening as functions/dedup.connected_components: an
        # unconverged edge set would leave residual non-star edges and
        # the join below would emit conflicting (id, component) rows —
        # silently-wrong labels. Fail loudly instead.
        raise ValueError(
            f"connected_components_star did not converge within "
            f"{max_rounds} rounds (edge signature still changing); "
            f"raise max_rounds"
        )
    # converged: every non-root points straight at its component min
    comps = nodes.join(e, nodes.id == e.u, "left").select(
        "id", F.coalesce(F.col("v"), F.col("id")).alias("component")
    )
    nodes.unpersist()
    return comps, rounds
