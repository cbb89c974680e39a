"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (BASELINE.json extension surface).

Scale design (the whole point of these at 100 TB):

- **exact**: one hash-groupBy on a 32-byte fingerprint — the shuffle carries
  (fingerprint, doc_id), never the text. Canonical-keeper = min(doc_id).
- **minhash_lsh**: shingle -> k md5-minima signature -> band keys ->
  self-join *on band key only*. Candidate pairs are generated per-bucket, so
  the join is an equi-join Catalyst can shuffle-hash; no O(n²) cross join
  ever materializes. Band/row parameters trade recall vs candidate volume.
- **simhash**: per-doc 32-bit signature via per-bit majority vote over token
  hashes — computed row-local with array expressions (no shuffle), then
  grouped on the signature (near-dups collide exactly or at small Hamming
  distance via rotated bands).
- **Jaccard verification**: each LSH candidate pair is joined back to the
  two per-doc shingle sets and scored row-locally (common / union), so the
  cost follows the candidate count, never an all-pairs shingle join.
- **embedding near-dup**: cosine over `array<float>` with JVM-side
  `aggregate`/`zip_with`; pair generation via LSH-ish bucketing or an
  id-sampled blocklist at verification time.

Every operator uses only built-in functions (md5, array lambdas), keeping an
exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import char_shingles_of_norm, fingerprint, normalize_text, tokens

# Every text operator here reads the documents table layout (doc_id, text).
# The LSH index: 16 numeric MinHash values cut into 4 bands of 4 rows, so a
# pair with Jaccard j collides with probability 1-(1-j^4)^4 (~0.97 at
# j=0.8, ~0.04 at j=0.3).
NUM_HASHES = 16
BANDS = 4


def _exploded_shingles(df: DataFrame) -> DataFrame:
    """(id, shingle) rows with the normalization materialized once per doc
    (a separate projection under the Generate node), not once per element.

    Deliberately explodes the per-doc shingle ARRAY rather than an offset
    sequence: exploding offsets first would duplicate the full normalized
    string into every offset row (~60x the bytes through the Generate node)
    before the substring projection — measured 3-5x slower than paying the
    interpreted per-element substring inside the array transform."""
    base = df.select(F.col("doc_id"), normalize_text(F.col("text")).alias("_norm"))
    return base.select(
        F.col("doc_id"),
        F.explode(char_shingles_of_norm(F.col("_norm"))).alias("sh"),
    )

# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(df: DataFrame) -> DataFrame:
    """Per-doc MinHash signature as columns sig_0..sig_3 — the scale path.

    explode(shingles) -> one md5 per (doc, shingle, hash-index) -> groupBy-min.
    Everything is built-in + codegen'd; the shuffle carries (id, k mins) after
    partial aggregation, so network volume is O(docs * k), never O(shingles).
    hash_i(s) = md5(i || s) and sig_i is its minimum over the document's
    shingles — the permutation-free MinHash construction; md5 hex strings
    compare lexicographically identically in any engine, which keeps the
    DuckDB twin exact."""
    sh = _exploded_shingles(df)
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i)), F.col("sh")))).alias(f"sig_{i}")
        for i in range(4)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


# Hash family for the numeric MinHash: h_i(x) = (a_i*x + b_i) mod P, with
# x = the low 60 bits of md5(shingle) reduced mod P. P = 2^31 - 1 (Mersenne
# prime); (P-1)^2 < 2^62 so products never overflow int64, and the identical
# arithmetic runs in any engine (the DuckDB twin transliterates the same
# literal a_i/b_i). The multipliers must be large & well-mixed: with small
# a_i, every h_i is minimized by the same low-x shingle and the signature
# rows collapse (bands lose all selectivity).
MINHASH_PRIME = 2147483647
_KNUTH = 2654435761  # Knuth's multiplicative-hash constant


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i ∈ [1, P-1], b_i ∈ [0, P-1]."""
    p = MINHASH_PRIME
    out = []
    for i in range(num_hashes):
        a = (_KNUTH * (2 * i + 1)) % p
        b = (_KNUTH * _KNUTH % p * (i + 1) + 12345) % p
        out.append((a if a else 1, b))
    return out


# Session-scoped cache of persisted intermediate stages shared by the
# dedup family (VERDICT r1 #6): the banded-signature frame and the
# shingle-set frame are each ONE corpus pass, and four registry queries
# (lsh_pairs, ngram_jaccard, near_projection, components) consume them.
# Keyed by (spark application id, caller token, params) so a cached frame
# never outlives its session; at 100 TB the same role is played by a
# persisted bucket table. Opt-in via cache_key (e.g. the sf_dir). Since
# r9 the store is the package-wide runtime_cache registry, so
# runtime_cache.release(cache_key) drops every stage built from a corpus.
from ..runtime_cache import cached_frame as _cached_stage  # noqa: E402


def numeric_signatures(df: DataFrame, cache_key=None) -> DataFrame:
    """(id, h0..h15) numeric MinHash signature frame — the un-banded
    signature table (what a 100 TB pipeline would materialize once and
    index many ways). explode shingles -> ONE md5 per (doc, shingle),
    k multiply-mod hashes derived from it -> partial-aggregated
    groupBy-min, so the shuffle carries docs*k longs, never shingles.
    Cached per (session, params) like the other family stages; the
    banded index and the estimator-quality audit both read it."""

    def _build() -> DataFrame:
        p = F.lit(MINHASH_PRIME)
        sh = _exploded_shingles(df)
        x = F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long") % p
        params = minhash_params(NUM_HASHES)
        hashed = sh.select(
            F.col("doc_id"),
            *[((F.lit(a) * x + F.lit(b)) % p).alias(f"h{i}") for i, (a, b) in enumerate(params)],
        )
        return hashed.groupBy("doc_id").agg(
            *[F.min(f"h{i}").alias(f"h{i}") for i in range(NUM_HASHES)]
        )

    key = None if cache_key is None else ("numsig", cache_key)
    return _cached_stage(df, key, _build)


def banded_signatures(df: DataFrame, cache_key=None) -> DataFrame:
    """(id, band-key) frame — the LSH index build pass.

    Reads the (cached) numeric signature stage and explodes b band keys.
    With cache_key set both stages persist and are shared across the
    dedup family — one corpus pass per run, not one per query."""

    def _build() -> DataFrame:
        rows_per_band = NUM_HASHES // BANDS
        sig = numeric_signatures(df, cache_key)
        band_keys = F.array(
            *[
                F.concat_ws(
                    ",",
                    F.lit(str(b)),
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
                for b in range(BANDS)
            ]
        )
        return sig.select(F.col("doc_id"), F.explode(band_keys).alias("band"))

    key = None if cache_key is None else ("banded", cache_key)
    return _cached_stage(df, key, _build)


def shingle_sets(df: DataFrame, cache_key=None) -> DataFrame:
    """(id, shingle-set) frame — the exact-verification side. Cached the
    same way as banded_signatures (both verify joins of a family run read
    it twice each)."""

    def _build() -> DataFrame:
        return df.select(
            F.col("doc_id"), normalize_text(F.col("text")).alias("_norm")
        ).select(
            F.col("doc_id"),
            char_shingles_of_norm(F.col("_norm")).alias("sh_set"),
        )

    key = None if cache_key is None else ("sets", cache_key)
    return _cached_stage(df, key, _build)


# In-plan hard bound on LSH band-bucket occupancy. One degenerate band key
# (near-constant docs, a shingle-starved corpus, or a misconfigured r) puts
# n docs in one bucket and n² rows through the self-join — the quadratic
# failure LSH exists to avoid. Past this bound the candidate join REFUSES to
# produce rows (assert_true raises at run time) instead of silently running
# the blow-up; the remedy is more rows-per-band, a pre-split on an exact
# fingerprint (exact dups don't need LSH), or sharding the hot bucket.
# Mirrors the SemDeDup cluster bound (queries.py q_semdedup_clusters).
MAX_BAND_OCCUPANCY = 10_000


def minhash_lsh_candidates(
    df: DataFrame, cache_key=None, max_band_occupancy: int = MAX_BAND_OCCUPANCY
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.

    Self-equi-join on the band key (shuffle-hash; never a cross join) of
    ONE guarded frame: both join sides are the identical plan — the
    occupancy window plus guard projection — so Spark reuses a single
    exchange in the uncached path (and a single persisted stage when
    cache_key is set) rather than computing/shuffling the banded
    signatures twice.

    The guard: a per-band occupancy count (a window over the same band
    partitioning the join shuffles on — no extra exchange) feeds an
    in-plan assert_true capping it at ``max_band_occupancy``: a degenerate
    hot bucket fails loudly before emitting its n² candidate rows."""
    banded = banded_signatures(df, cache_key)

    def build() -> DataFrame:
        return _lsh_candidates_from_banded(banded, max_band_occupancy)

    # r8: the candidate stage itself joins the family cache — the scale
    # audit (and any consumer pairing a candidate count with verification)
    # was paying the band self-join + DISTINCT twice per run. O(n) rows by
    # the measured linear-growth law; at 100 TB this is the materialized
    # candidate table every dedup pipeline persists anyway.
    key = None if cache_key is None else ("cand", cache_key, int(max_band_occupancy))
    return _cached_stage(banded, key, build)


def _lsh_candidates_from_banded(banded: DataFrame, max_band_occupancy: int) -> DataFrame:
    occ = F.count("*").over(Window.partitionBy("band"))
    guarded_band = F.when(
        F.assert_true(
            F.col("__band_occ") <= F.lit(int(max_band_occupancy)),
            F.lit(
                "LSH band bucket exceeds the %d-doc occupancy bound "
                "(degenerate band — raise rows-per-band or pre-split "
                "exact duplicates)" % int(max_band_occupancy)
            ),
        ).isNull(),
        F.col("band"),
    )
    guarded = banded.withColumn("__band_occ", occ).select(
        guarded_band.alias("band"), F.col("doc_id")
    )
    return (
        guarded.alias("a").join(guarded.alias("b"), "band")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def lsh_verified_pairs(df: DataFrame, threshold: float = 0.8, cache_key=None) -> DataFrame:
    """Near-dup pairs: LSH candidate generation + exact Jaccard verification.

    This is the 100 TB dedup pipeline: an all-pairs shingle join never runs.
    Verification joins the candidate pairs back to the per-doc shingle SETS
    (two equi-joins on id) and computes |A∩B| row-locally with
    array_intersect — cost is O(candidate pairs), independent of corpus
    size, and immune to hot stop-shingles (which blow up any shingle-keyed
    self-join: a shingle shared by n docs contributes n² join rows)."""
    cand = minhash_lsh_candidates(df, cache_key)
    sets = shingle_sets(df, cache_key)
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            common / (F.size("sh_a") + F.size("sh_b") - common),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(df: DataFrame, cache_key=None) -> DataFrame:
    """Containment near-dup pairs: doc-inside-doc detection Jaccard misses.

    A short doc quoted verbatim inside a long one has tiny Jaccard (the
    union is dominated by the long doc) but containment |A∩B|/|A| ≈ 1.
    Candidate generation is the SAME LSH band join as the Jaccard family
    (shares the persisted banded-signature + shingle-set stages when
    cache_key is set — zero extra corpus passes); only the verification
    formula differs. Both directions are emitted as exact integer ppm
    (common * 1e6 div |side|), and the pair is kept when either direction
    reaches 600,000 ppm (60% of a side's shingles). ``contained`` labels the more-contained side.

    Scale: cost is O(LSH candidate pairs), independent of corpus size —
    identical profile to lsh_verified_pairs. Note the LSH recall bias:
    bands are tuned for Jaccard, so an extreme containment pair with low
    Jaccard may not collide; more hashes per band index (or banding on
    the short side's signature only) trades cost for recall.
    """
    cand = minhash_lsh_candidates(df, cache_key)
    sets = shingle_sets(df, cache_key)
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("common", common.cast("bigint"))
        .withColumn(
            "cont_a_in_b_ppm",
            F.expr("common * 1000000 div size(sh_a)").cast("bigint"),
        )
        .withColumn(
            "cont_b_in_a_ppm",
            F.expr("common * 1000000 div size(sh_b)").cast("bigint"),
        )
        .filter(
            F.greatest("cont_a_in_b_ppm", "cont_b_in_a_ppm") >= F.lit(600_000)
        )
        .withColumn(
            "contained",
            F.when(
                F.col("cont_a_in_b_ppm") >= F.col("cont_b_in_a_ppm"), F.lit("a_in_b")
            ).otherwise(F.lit("b_in_a")),
        )
        .select("id_a", "id_b", "cont_a_in_b_ppm", "cont_b_in_a_ppm", "contained")
    )


# --------------------------------------------------------------------------
# connected components
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list (id_a, id_b) —
    label propagation to the component's MIN id. The iterative-algorithm
    upgrade of dedup_near's greedy pairwise rule: transitive chains
    (A~B~C where A!~C) all land in one component.

    Each iteration is one join + one groupBy-min, moving the min label
    ONE hop per round — iteration count is O(cluster diameter), which is
    fine for near-dup clusters (tiny diameters in practice) but stalls
    on pathological long chains; the O(log n)-round scale path for those
    is operators/graph.connected_components_star (same answer,
    hash-gated equal by the dedup_components_star registry row). The
    driver only checks a convergence flag per iteration — labels never
    leave the cluster. Returns (id, component) for every id appearing
    in pairs."""
    from pyspark import StorageLevel

    # the edge list is re-joined EVERY iteration — persist it once so the
    # upstream pair derivation (LSH candidate + verify joins) runs a
    # single time instead of once per round
    # symmetrize via ONE explode (r11, guide §1.3): the union-of-two-
    # selects form executed the upstream pair derivation (LSH candidate
    # + verify joins) twice inside the persist's materialization job
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    try:
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            updated = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce("nbr_component", "component")
                    ).alias("component"),
                    (
                        F.coalesce("nbr_component", "component") < F.col("component")
                    ).alias("_changed"),
                )
            )
            updated = updated.localCheckpoint(eager=True)  # truncate lineage per iteration
            converged = updated.filter(F.col("_changed")).isEmpty()
            labels = updated.drop("_changed")
            if converged:
                break
        else:
            # r4 hardening (found by the star-CC equivalence test): a
            # graph whose diameter exceeds the round budget used to
            # return silently-WRONG unconverged labels. Fail loudly and
            # name the logarithmic alternative.
            raise ValueError(
                f"connected_components did not converge in {max_iterations} "
                "rounds (cluster diameter exceeds the budget); use "
                "operators.graph.connected_components_star, which "
                "converges in O(log n) rounds"
            )
    finally:
        edges.unpersist()
    return labels


def dedup_near(df: DataFrame, cache_key=None) -> DataFrame:
    """The end-to-end near-dedup projection a training pipeline ships:
    corpus minus near-duplicates. A doc is dropped iff some pair verified
    at Jaccard >= 0.8 links it to a lower-id doc — the min-id member of every duplicate
    cluster survives (pairwise rule; transitive chains keep any member
    that has no lower-id partner, the standard greedy approximation that
    avoids an iterative connected-components pass)."""
    pairs = lsh_verified_pairs(df, 0.8, cache_key)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return df.join(drop, "doc_id", "left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash from md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def simhash32(text_col: Column) -> Column:
    """32-bit SimHash over word tokens, fully row-local (no shuffle).

    For each bit position, majority vote of the token hashes' bit values:
    bit = 1 if sum over tokens of (2*bit_i - 1) > 0. Near-identical docs get
    identical or near-identical signatures (small Hamming distance)."""
    toks = tokens(text_col)
    hashes = F.transform(toks, _token_hash32)
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.floor(h / F.pow(F.lit(2.0), i.cast("double")).cast("long")) % 2 == 1, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(31)),
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """Per-doc 32-bit SimHash — the scale path (explode + codegen'd groupBy).

    Value-identical to :func:`simhash32` (same md5-derived token hashes,
    same majority vote), but the per-bit votes are 32 SUM aggregates over
    exploded tokens instead of nested interpreted array lambdas: partial
    aggregation means the shuffle carries 32 longs per doc. Docs with no
    tokens get simhash 0 (explode_outer keeps them; NULL tokens vote 0)."""
    tok = df.select(
        F.col("doc_id"), F.explode_outer(tokens(F.col("text"))).alias("tok")
    ).select(
        # materialize the md5-derived hash ONCE per token row; referencing
        # the md5 expression from all 32 vote aggregates would re-hash 32x
        F.col("doc_id"),
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    votes = [
        F.sum(
            F.when(F.col("h").isNull(), 0).otherwise(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            )
        ).alias(f"v{i}")
        for i in range(32)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(32):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.select(F.col("doc_id"), sig.alias("simhash"))


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------


def cosine_similarity(a: Column, b: Column) -> Column:
    """JVM-side cosine over two array<float/double> columns: zip_with dot
    product + per-array norms via aggregate. No Python in the loop."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def embedding_near_dup_pairs(df: DataFrame) -> DataFrame:
    """Pairs of embeddings with cosine >= 0.3, among the ids of a
    deterministic 1/5 sample (vec_id % 5 == 0).

    The pair join is O(n²) in the sample — the pattern for spot-audits at
    scale. The scale path for full corpora is
    similarity.hyperplane_lsh_candidates."""
    base = df.select("vec_id", "embedding").filter(F.col("vec_id") % 5 == 0)
    # per-vector norm computed once before the pair join (identical fold
    # to cosine_similarity's — dot/(na·nb) is bit-identical, 1 fold per
    # pair instead of 3)
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    base = base.withColumn("__nrm", nrm)
    a = base.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        F.col("__nrm").alias("__na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        F.col("__nrm").alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= 0.3)
        .select("id_a", "id_b", "cosine")
    )
