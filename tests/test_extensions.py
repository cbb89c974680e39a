"""Tests for the extension surface: text analysis, dedup, similarity
search, multimodal plumbing, streaming rollup.

Strategy (SURVEY §5.2): small constructed frames with planted structure
(exact dups, near-dups, known languages) where invariants are checkable by
hand, plus fixture-scale runs checking distributed == local semantics.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from clickhouse_forecasting_spark.functions import dedup as DD
from clickhouse_forecasting_spark.functions import similarity as SIM
from clickhouse_forecasting_spark.functions import text as TX
from clickhouse_forecasting_spark import multimodal as MM
from clickhouse_forecasting_spark.sources import read_table
from clickhouse_forecasting_spark.streaming.rollup import EVENTS_SCHEMA, daily_rollup_stream
from clickhouse_forecasting_spark.streaming.sessionize import sessionize_stream


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog near the river bank."),
        (1, "The quick brown fox jumps over the lazy dog near the river bank."),  # exact dup of 0
        (2, "The quick brown fox jumps over the lazy dog near the river bend."),  # near dup of 0
        (3, "Der schnelle braune Fuchs springt über den faulen Hund und das ist gut."),
        (4, "Le renard brun rapide saute par dessus le chien et c'est pour une les pas."),
        (5, "Completely different content about distributed query engines and parquet files."),
        (6, ""),  # empty doc
        (7, "!!! ??? ... ;;; :::"),  # punctuation only
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- text ----


def test_token_count_and_stats(docs):
    out = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            TX.token_count(F.col("text")).alias("n"),
            TX.punct_ratio(F.col("text")).alias("p"),
            TX.mean_word_length(F.col("text")).alias("mwl"),
        ).collect()
    }
    assert out[0]["n"] == 13
    assert out[6]["n"] == 0
    assert out[7]["n"] == 0
    assert out[5]["p"] < 0.1 < out[7]["p"]
    assert 3.0 <= out[0]["mwl"] <= 5.0


def test_lang_id(docs):
    langs = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert langs[0] == "en"
    assert langs[3] == "de"
    assert langs[4] == "fr"
    assert langs[6] == "und"
    assert langs[7] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "  HELLO WORLD  "), (3, "hello worlds")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(TX.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2] != fps[3]


def test_quality_score_range(docs):
    rows = docs.select(TX.quality_score(F.col("text")).alias("q")).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0


# --------------------------------------------------------------- dedup ----


def test_minhash_signatures_identical_for_dups(docs):
    sig = DD.minhash_signatures(docs)
    rows = {r["doc_id"]: [r[f"sig_{i}"] for i in range(4)] for r in sig.collect()}
    assert rows[0] == rows[1]  # exact dups -> identical signatures
    # near dup differs in few slots, unrelated doc in many
    near = sum(a != b for a, b in zip(rows[0], rows[2]))
    far = sum(a != b for a, b in zip(rows[0], rows[5]))
    assert near < far


def test_lsh_verified_pairs_finds_planted_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.lsh_verified_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert all({a, b} <= {0, 1, 2} for a, b in pairs)


def test_simhash_frame_matches_column_impl(docs):
    frame = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs).collect()}
    col = {
        r["doc_id"]: r["sh"]
        for r in docs.select("doc_id", DD.simhash32(F.col("text")).alias("sh")).collect()
    }
    assert frame == col
    assert frame[0] == frame[1]
    assert frame[6] == 0  # no tokens -> all-zero signature


def test_hamming_similarity_of_near_dups(docs):
    sh = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[0], sh[2]) < ham(sh[0], sh[5])


# ---------------------------------------------------------- similarity ----


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vecs):
    top = SIM.brute_force_topk(vecs, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 1, 4]
    assert top[0]["cosine"] == pytest.approx(1.0)
    assert top[1]["cosine"] == pytest.approx(0.9 / (0.81 + 0.01) ** 0.5, rel=1e-6)


def test_pairwise_topk_ranks(vecs):
    out = SIM.pairwise_topk(vecs.filter(F.col("vec_id") >= 2), vecs.filter(F.col("vec_id") == 0))
    rows = out.orderBy("rank").collect()
    assert [r["neighbor_id"] for r in rows] == [4, 2, 3]
    assert rows[0]["rank"] == 1


def test_lsh_topk_subset_of_bruteforce(spark, sf_dir):
    from clickhouse_forecasting_spark.queries import SPARK_QUERIES

    emb = read_table(spark, sf_dir, "embeddings")
    approx_ids = {r["vec_id"] for r in SPARK_QUERIES["similarity_lsh_topk"](spark, sf_dir).collect()}
    # every approx hit is a real vector; the query's own bucket contains it
    assert approx_ids <= {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert 0 in approx_ids  # identical vector always shares the bucket


def test_hyperplane_near_dup_pairs_subset_of_bruteforce(spark, sf_dir):
    # the brute-force pairs cover the vec_id % 5 == 0 audit sample
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    dim = len(emb.first()["embedding"])
    brute = {(r["id_a"], r["id_b"]) for r in DD.embedding_near_dup_pairs(emb).collect()}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in SIM.hyperplane_near_dup_pairs(emb, dim, threshold=0.3, n_planes=4).collect()
    }
    assert lsh <= brute  # LSH never invents pairs; it may miss some


def test_hyperplane_bucket_occupancy_guard_fails_loudly(spark):
    """One hot hyperplane bucket (identical vectors — a collapsed encoder
    or a near-dup farm) is an in-bucket n² through the pair self-join:
    the join must REFUSE to run it (in-plan assert_true), never silently
    explode. Mirrors functions/dedup's MinHash band guard."""
    import pytest

    vecs = [(i, [1.0, 0.5, -0.25, 0.125]) for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = SIM.hyperplane_near_dup_pairs(
        emb, 4, threshold=0.0, n_planes=4, max_bucket_occupancy=30
    )
    with pytest.raises(Exception) as exc:
        pairs.count()
    assert "occupancy bound" in str(exc.value)


def test_hyperplane_bucket_occupancy_guard_passes_healthy(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    n = SIM.hyperplane_near_dup_pairs(emb, dim, threshold=0.3, n_planes=4).count()
    assert n >= 0  # guard silent on healthy occupancy


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    assigned, cents = SIM.ivf_exact_cells(emb, n_cells=8)
    # probing every learned cell scores every vector: exact top-k
    every = assigned.filter(F.col("cell").isin(list(range(len(cents)))))
    full = SIM.brute_force_topk(every, query, k=5).collect()
    exact = SIM.brute_force_topk(emb, query, k=5).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]
    # probing only the query vector's own cell finds it first
    own = assigned.filter(F.col("vec_id") == 0).first()["cell"]
    part = SIM.brute_force_topk(assigned.filter(F.col("cell") == own), query, k=5).collect()
    assert part[0]["vec_id"] == 0


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    from clickhouse_forecasting_spark.queries import SPARK_QUERIES

    emb = read_table(spark, sf_dir, "embeddings")
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in SIM.brute_force_topk(emb, query, k=10).collect()}
    # both queries: top-10 over 6 seed-42 planes, 1 and 4 probed buckets
    single = {r["vec_id"] for r in SPARK_QUERIES["similarity_lsh_topk"](spark, sf_dir).collect()}
    multi = {r["vec_id"] for r in SPARK_QUERIES["similarity_multiprobe_topk"](spark, sf_dir).collect()}
    # probing strictly more buckets can only improve recall vs brute force
    assert len(multi & exact) >= len(single & exact)
    assert 0 in multi
    # probe set: own bucket first, then Hamming-distance-1 neighbors, no dups
    planes = SIM.random_hyperplanes(len(query), 6)
    probes = SIM.multi_probe_buckets(query, planes, 4)
    assert len(probes) == len(set(probes)) == 4
    assert all(bin(probes[0] ^ p).count("1") == 1 for p in probes[1:])


# ----------------------------------------------------------- multimodal ----


def test_multimodal_attach_and_features(docs):
    mm = MM.attach_payload(docs)
    assert [f.name for f in mm.schema["media"].dataType.fields] == [
        "kind", "mime", "byte_len", "checksum",
    ]
    meta = {r["doc_id"]: r for r in mm.select("doc_id", "media.*").collect()}
    assert meta[0]["byte_len"] == len(
        "The quick brown fox jumps over the lazy dog near the river bank."
    )
    feats = {r["doc_id"]: r for r in MM.extract_features(mm).collect()}
    assert len(feats) == docs.count()
    assert feats[6]["feat_mean"] is None  # empty payload -> fault-isolated NULL
    assert feats[0]["feat_dim"] == 4 and feats[0]["feat_mean"] is not None


def test_frame_sampling_shape(docs):
    mm = MM.attach_payload(docs)
    frames = MM.sample_frames(mm).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 6 not in by_doc  # empty payload -> fault-isolated skip
    for doc_id, rows in by_doc.items():
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
        assert all(len(r["frame_checksum"]) == 32 for r in rows)


# ------------------------------------------------------------ streaming ----


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    events = read_table(spark, sf_dir, "events")
    batch = {
        r["date"]: (r["event_count"], r["total_value"])
        for r in daily_rollup_stream(events).collect()
    }
    # replay the same events through a real stream (availableNow drains the
    # backlog then stops); complete-mode memory sink holds the final state
    src = str(tmp_path / "events_stream")
    events.write.parquet(src)
    stream_df = daily_rollup_stream(spark.readStream.schema(EVENTS_SCHEMA).parquet(src))
    q = (
        stream_df.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    got = {
        r["date"]: (r["event_count"], r["total_value"])
        for r in spark.table("rollup_test").collect()
    }
    assert set(got) == set(batch)
    for d, (n, v) in batch.items():
        assert got[d][0] == n
        assert got[d][1] == pytest.approx(v, rel=1e-9)


def test_stateful_sessionization_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState session counts == the batch lag()-window
    sessionization after an availableNow replay (single micro-batch, so
    in-batch event-time sorting makes the comparison exact)."""
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # full-precision seconds, matching the stream's ts.timestamp() gaps
    sec = F.col("ts").cast("double")
    batch = {
        r["user_id"]: r["n_sessions"]
        for r in events.withColumn(
            "new_session",
            F.when(sec - F.lag(sec).over(w) > 1800, 1).otherwise(0)
            + F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
        .collect()
    }
    src = str(tmp_path / "events_sessions")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), 'stream did not finish in 120s'
    got = {
        r["user_id"]: r["n_sessions"] for r in spark.table("sessions_test").collect()
    }
    assert got == batch


def test_streaming_checkpoint_resume(spark, sf_dir, tmp_path):
    """Exactly-once incremental processing across restarts: a checkpointed
    stream processes backlog batch 1, stops, new files arrive, a NEW query
    resumes from the checkpoint and emits only finalized windows — no
    duplicates, counts equal to the batch rollup for every emitted date."""
    events = read_table(spark, sf_dir, "events").orderBy("ts")
    n = events.count()
    first, second = events.limit(n // 2), events.subtract(events.limit(n // 2))
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    first.write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            daily_rollup_stream(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in 120s"

    run_once()
    second.write.mode("append").parquet(src)
    run_once()

    emitted = spark.read.parquet(sink)
    dates = [r["date"] for r in emitted.select("date").collect()]
    assert len(dates) == len(set(dates)), "restart produced duplicate windows"
    batch = {
        r["date"]: (r["event_count"], r["total_value"])
        for r in daily_rollup_stream(events).collect()
    }
    got = {
        r["date"]: (r["event_count"], r["total_value"]) for r in emitted.collect()
    }
    assert set(got) <= set(batch)
    assert len(got) >= len(batch) - 2  # only the watermark-held tail may be missing
    for d, (cnt, val) in got.items():
        assert cnt == batch[d][0]
        assert val == pytest.approx(batch[d][1], rel=1e-9)


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E: two components, labels = min id, no cross-linking."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["component"] for r in DD.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivered events are suppressed —
    a doubled backlog replays to exactly the batch-distinct row set."""
    from clickhouse_forecasting_spark.streaming import dedup_stream

    events = read_table(spark, sf_dir, "events").limit(2000)
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    events.write.mode("append").parquet(src)
    events.write.mode("append").parquet(src)  # every event delivered twice
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    got = spark.read.parquet(sink)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_sessionize_event_time_ttl_expires_idle_state(spark, tmp_path):
    """Event-time TTL: user A goes idle past the TTL while B's later events
    advance the watermark; when A returns their counts restart from fresh
    state. Without TTL the same replay accumulates. Files are staged with
    maxFilesPerTrigger=1 so each file is its own micro-batch (the watermark
    only advances BETWEEN batches)."""
    import datetime as dt
    import time as _time

    from clickhouse_forecasting_spark.streaming.sessionize import sessionize_stream

    def batch(rows):
        return spark.createDataFrame(
            [(i, dt.datetime(2024, 1, d, h, m), u, "t", 1.0, "{}")
             for i, (d, h, m, u) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )

    batches = [
        batch([(1, 10, 0, 0), (1, 10, 5, 0)]),     # A: one session, 2 events
        batch([(10, 9, 0, 1)]),                    # B advances watermark past A's expiry
        batch([(11, 9, 0, 1)]),                    # next batch: A's timeout fires
        batch([(12, 9, 0, 0), (12, 9, 1, 0), (12, 9, 2, 0)]),  # A returns: 3 events
    ]

    def run(name, ttl):
        src = str(tmp_path / f"src_{name}")
        for b in batches:
            b.coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)  # distinct mtimes -> deterministic file order
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            sessionize_stream(stream, ttl_seconds=24 * 3600)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        ) if ttl else (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish in 120s"
        rows = spark.table(name).collect()
        return {(r["user_id"], r["n_sessions"], r["n_events"]) for r in rows}

    with_ttl = run("sess_ttl", ttl=True)
    # A's comeback rows show fresh state (1 session / 3 events), never
    # cumulative (3 sessions / 5 events)
    assert (0, 1, 2) in with_ttl and (0, 1, 3) in with_ttl
    assert not any(u == 0 and n > 3 for u, _s, n in with_ttl)

    no_ttl = run("sess_nottl", ttl=False)
    # same replay without TTL accumulates across the idle gap
    assert (0, 1, 2) in no_ttl and (0, 2, 5) in no_ttl


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    from clickhouse_forecasting_spark.functions.similarity import (
        brute_force_topk,
        quantization_stats,
        quantize,
        quantized_topk,
        with_normalized,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    nemb = with_normalized(emb)
    query = [float(x) for x in nemb.filter(F.col("vec_id") == 0).head().nvec]
    mins, scales = quantization_stats(nemb)
    # quantized values are valid int8-range codes
    codes = nemb.select(quantize(F.col("nvec"), mins, scales).alias("q")).head().q
    assert all(0 <= c <= 255 for c in codes)
    raw_query = [float(x) for x in emb.filter(F.col("vec_id") == 0).head().embedding]
    exact = {r.vec_id for r in brute_force_topk(emb, raw_query, k=10).collect()}
    approx = {r.vec_id for r in quantized_topk(nemb, query, mins, scales).collect()}
    # 8-bit asymmetric quantization: the exact top-10 must survive into
    # the quantized top-20 at high recall
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, (recall, exact, approx)
    assert 0 in approx  # the query vector itself is its own best match
