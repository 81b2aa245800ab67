"""Structured Streaming tests: incremental ingestion into the snapshot
store exactly-once via checkpoint + idempotent replay, watermarked
windowed aggregation, custom stateful operator."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_spark import fixtures
from ocr_spark.operators.extract import extract
from ocr_spark.pipeline import read_snapshots, snapshots_df, vacuum_uncommitted
from ocr_spark.streaming import (
    stateful_conv_progress,
    stream_to_store,
    windowed_turn_counts,
)
from ocr_spark.streaming.incremental import read_transcript_stream, run_windowed_stream

ROOT = "/tmp/ocr_spark_stream_test"


@pytest.fixture()
def dirs():
    shutil.rmtree(ROOT, ignore_errors=True)
    paths = {n: os.path.join(ROOT, n) for n in ("in", "out", "ckpt", "wout", "wckpt")}
    os.makedirs(paths["in"])
    yield paths
    shutil.rmtree(ROOT, ignore_errors=True)


def _write_batch(spark, path, first_conv, n_convs, batch_name):
    rows = []
    for seq in range(first_conv, first_conv + n_convs):
        rows.extend(fixtures.conversation_rows(seq, skew=False))
    from ocr_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    df.coalesce(2).write.mode("overwrite").parquet(os.path.join(path, batch_name))


def _sorted_extract(df):
    return [
        (r.conv_id, r.turn_idx, r.kind, r.extracted_text, r.parse_ok)
        for r in df.select("conv_id", "turn_idx", "kind", "extracted_text", "parse_ok")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


def test_stream_to_store_is_incremental_and_exactly_once(spark, dirs):
    """Each drain lands only the files the checkpoint has not consumed,
    as ordinary snapshots equal to the batch extraction; a drain with no
    new input commits nothing."""
    store = dirs["out"]

    def drain():
        q = stream_to_store(spark, dirs["in"] + "/*", store, dirs["ckpt"])
        q.awaitTermination()
        return q

    _write_batch(spark, dirs["in"], 0, 12, "b1")
    drain()
    want1 = _sorted_extract(extract(spark.read.parquet(dirs["in"] + "/b1")))
    assert _sorted_extract(read_snapshots(spark, store)) == want1

    # second batch arrives; the checkpoint (not the store's anti-join)
    # skips b1: the query reads b2's rows only
    _write_batch(spark, dirs["in"], 12, 8, "b2")
    q = drain()
    n_b2 = spark.read.parquet(dirs["in"] + "/b2").count()
    assert sum(p["numInputRows"] for p in q.recentProgress) == n_b2
    want2 = _sorted_extract(extract(spark.read.parquet(dirs["in"] + "/*")))
    assert _sorted_extract(read_snapshots(spark, store)) == want2

    # re-running with no new input commits nothing (exactly-once)
    n_snapshots = snapshots_df(spark, store).count()
    drain()
    assert snapshots_df(spark, store).count() == n_snapshots
    assert _sorted_extract(read_snapshots(spark, store)) == want2


def test_stream_to_store_stop_mid_drain_no_dup_no_loss(spark, dirs):
    """Stop the query mid-drain (after >=1 micro-batch ran, possibly
    while a later one is writing its snapshot), restart from the same
    checkpoint, and assert the store holds every input turn exactly
    once.

    The stop is abrupt from the query's perspective: it can cancel a
    micro-batch after its snapshot is staged or even committed but
    before the checkpoint advances. Uncommitted staging stays invisible
    (marker-gated reads) and the replayed batch is a no-op (the resume
    anti-join), so the restart neither loses nor duplicates a turn."""
    for i in range(12):
        _write_batch(spark, dirs["in"], i * 2, 2, f"w{i}")
    total_in = spark.read.parquet(dirs["in"] + "/*").count()
    store = dirs["out"]

    # one file per trigger -> many microbatches; stop after the first
    # batch runs (the stop lands between triggers or mid-batch).
    # Retried a few times because a fast drain can outrun the stop —
    # the test needs a genuinely partial store.
    import time as _time

    partial = None
    for attempt in range(4):
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(dirs["ckpt"], ignore_errors=True)
        q = stream_to_store(
            spark, dirs["in"] + "/*", store, dirs["ckpt"], max_files_per_trigger=1
        )
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in q.recentProgress):
                break
            _time.sleep(0.05)
        assert q.recentProgress, "stream never made progress"
        q.stop()
        q.awaitTermination()
        committed = read_snapshots(spark, store)
        partial = committed.count() if committed is not None else 0
        if 0 < partial < total_in:
            break
    assert partial is not None and 0 < partial < total_in, (
        f"stop landed before any/after every batch on all attempts ({partial})"
    )

    # restart from the same checkpoint: drains the remainder, no dups
    q = stream_to_store(
        spark, dirs["in"] + "/*", store, dirs["ckpt"], max_files_per_trigger=1
    )
    q.awaitTermination()
    got = read_snapshots(spark, store)
    assert got.count() == total_in
    assert got.select("conv_id", "turn_idx").distinct().count() == total_in
    want = _sorted_extract(extract(spark.read.parquet(dirs["in"] + "/*")))
    assert _sorted_extract(got) == want  # every turn exactly once, values identical
    # whatever the stop left staged is garbage, never table data
    vacuum_uncommitted(store)
    assert _sorted_extract(read_snapshots(spark, store)) == want


def test_stream_dedup_drops_redelivered_turns(spark, dirs):
    """Duplicate/re-delivered turns (the at-least-once queue archetype)
    are dropped by content key, within a batch and across restarts via
    checkpointed state."""
    from ocr_spark.streaming.incremental import stream_dedup_exact

    def run():
        stream = read_transcript_stream(spark, dirs["in"] + "/*")
        q = (
            stream_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", dirs["out"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch(spark, dirs["in"], 0, 6, "b1")
    _write_batch(spark, dirs["in"], 0, 6, "b1_dup")  # same rows, second file
    run()
    got = spark.read.parquet(dirs["out"])
    n_unique = spark.read.parquet(dirs["in"] + "/b1").count()
    assert got.count() == n_unique
    assert got.select("conv_id", "turn_idx").distinct().count() == n_unique

    # re-delivery in a later run: checkpointed dedup state still drops it
    _write_batch(spark, dirs["in"], 0, 6, "b1_redeliver")
    run()
    assert spark.read.parquet(dirs["out"]).count() == n_unique


def test_stream_stream_join_matches_batch_join(spark, dirs):
    """The watermarked turn-ack interval join emits exactly the pairs the
    equivalent batch join produces: in-lag acks match, late acks don't."""
    from ocr_spark.streaming.incremental import (
        ACK_SCHEMA,
        read_ack_stream,
        stream_turn_ack_join,
    )

    _write_batch(spark, dirs["in"], 0, 8, "b1")
    turns_batch = spark.read.parquet(dirs["in"] + "/b1")
    # acks: even turns ack within 2 min (in lag), odd turns ack 30 min
    # late (outside the 10-min bound -> must NOT join)
    acks_batch = turns_batch.select(
        "conv_id",
        "turn_idx",
        F.when(
            F.col("turn_idx") % 2 == 0,
            F.col("ts") + F.expr("interval 2 minutes"),
        )
        .otherwise(F.col("ts") + F.expr("interval 30 minutes"))
        .alias("ack_ts"),
    )
    ack_dir = os.path.join(ROOT, "acks")
    acks_batch.coalesce(2).write.parquet(os.path.join(ack_dir, "b1"))

    joined = stream_turn_ack_join(
        read_transcript_stream(spark, dirs["in"] + "/*"),
        read_ack_stream(spark, ack_dir + "/*"),
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.conv_id, r.turn_idx): r.lag_s
        for r in spark.read.parquet(dirs["out"]).collect()
    }
    want = {
        (r.conv_id, r.turn_idx): 120.0
        for r in turns_batch.filter(F.col("turn_idx") % 2 == 0).collect()
    }
    assert got == want


def test_windowed_counts_append_emits_closed_windows(spark, dirs):
    _write_batch(spark, dirs["in"], 0, 30, "b1")
    q = run_windowed_stream(
        spark, dirs["in"] + "/*", dirs["wout"], dirs["wckpt"],
        window="1 hour", watermark="30 minutes",
    )
    q.awaitTermination()
    emitted = spark.read.parquet(dirs["wout"]).collect()
    assert emitted, "watermark should have closed at least one window"

    batch = {
        (r.win_start, r.role): (r.n_turns, r.chars)
        for r in windowed_turn_counts(spark.read.parquet(dirs["in"] + "/b1")).collect()
    }
    # every emitted (closed) window must equal the batch computation
    for r in emitted:
        assert batch[(r.win_start, r.role)] == (r.n_turns, r.chars)
    # windows still inside the watermark are withheld, so emitted <= batch
    assert len(emitted) <= len(batch)


def test_stateful_conv_progress_accumulates(spark, dirs):
    _write_batch(spark, dirs["in"], 0, 10, "b1")
    stream = read_transcript_stream(spark, dirs["in"] + "/*")
    q = (
        stateful_conv_progress(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.conv_id: (r.turns_done, r.bytes_done, r.max_turn_idx)
        for r in spark.sql(
            "select conv_id, max(turns_done) turns_done, max(bytes_done) bytes_done,"
            " max(max_turn_idx) max_turn_idx from conv_progress group by conv_id"
        ).collect()
    }
    want = {
        r.conv_id: (r.t, r.b, r.m)
        for r in spark.read.parquet(dirs["in"] + "/b1")
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("t"),
            F.sum(F.length("text")).alias("b"),
            F.max("turn_idx").alias("m"),
        )
        .collect()
    }
    assert got == want


def test_session_stream_matches_batch_sessions(spark, dirs):
    from ocr_spark.streaming.incremental import run_session_stream, session_turn_stats

    _write_batch(spark, dirs["in"], 0, 30, "s1")
    sout = os.path.join(ROOT, "sout")
    sckpt = os.path.join(ROOT, "sckpt")
    q = run_session_stream(
        spark, dirs["in"] + "/*", sout, sckpt, gap="30 minutes", watermark="30 minutes"
    )
    q.awaitTermination()

    if not os.path.isdir(sout):
        return  # all sessions still open under the watermark — nothing emitted
    emitted = spark.read.parquet(sout).collect()
    batch = {
        (r.sess_start, r.conv_id): (r.sess_end, r.n_turns, r.chars)
        for r in session_turn_stats(spark.read.parquet(dirs["in"] + "/s1")).collect()
    }
    # every emitted (closed) session must equal the batch computation
    for r in emitted:
        assert batch[(r.sess_start, r.conv_id)] == (r.sess_end, r.n_turns, r.chars)
    assert len(emitted) <= len(batch)


def test_stateless_gates_identical_under_streaming(spark, dirs):
    """Scalar-function gates (ocr_spark.functions) are stateless builtin
    expressions, so the SAME code runs under readStream and produces
    row-identical results — the property that lets every batch hygiene
    gate deploy as a streaming filter with zero changes."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import hashed_bigram_score, quality_score, tokens
    from ocr_spark.streaming.incremental import read_transcript_stream

    _write_batch(spark, dirs["in"], 0, 10, "b1")

    def gate(df):
        toks = df.select(
            "conv_id", "turn_idx", quality_score("text").alias("q"),
            tokens("text").alias("toks"),
        )
        return toks.select(
            "conv_id", "turn_idx", "q",
            hashed_bigram_score("toks").alias("clf"),
        ).filter(F.col("q") > 0.2)

    q = (
        gate(read_transcript_stream(spark, dirs["in"] + "/*"))
        .writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(map(tuple, spark.read.parquet(dirs["out"]).collect()))
    want = sorted(
        map(tuple, gate(spark.read.parquet(dirs["in"] + "/b1")).collect())
    )
    assert got == want and len(got) > 0


def test_stream_curate_matches_batch_curation(spark, dirs):
    """The continuous curation job (gates + watermark-bounded dedup +
    content-keyed split) produces the same curated set as batch curate()
    on the same input — splits identical because both key on content."""
    from ocr_spark.curate import curate
    from ocr_spark.streaming.incremental import stream_curate

    _write_batch(spark, dirs["in"], 0, 8, "b1")
    q = stream_curate(spark, dirs["in"] + "/*", dirs["out"], dirs["ckpt"])
    q.awaitTermination()

    got = {
        (r["doc_id"], r["split"], r["n_tokens"])
        for r in spark.read.parquet(dirs["out"]).collect()
    }

    batch_corpus = (
        spark.read.parquet(dirs["in"] + "/b1")
        .select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
                "doc_id"
            ),
            "text",
        )
    )
    curated, _ = curate(batch_corpus)
    # fixture turns are unique per (conv, idx) text-wise? not necessarily:
    # batch curate dedups by sha keep-first (min struct), streaming keeps
    # first-arrived — compare by the deduped CONTENT set, which is
    # arrival-order independent, plus gate agreement on doc level
    got_shas = {
        r["sha"]
        for r in spark.read.parquet(dirs["out"]).select(
            F.sha2(F.col("text").cast("binary"), 256).alias("sha")
        ).collect()
    }
    want_shas = {
        r["sha"]
        for r in curated.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("sha")
        ).collect()
    }
    assert got_shas == want_shas and len(got_shas) > 0
    # every surviving streaming row carries a valid, content-stable split
    assert all(s in ("train", "val", "test") for _, s, _ in got)


def test_stream_band_dedup_drops_near_dups_keeps_new(spark, dirs):
    """Streaming MinHash band-key dedup: a later turn whose text
    collides on every band with an earlier one (here: identical text
    under a different conv_id — the re-posted-content archetype exact
    dedup cannot catch across keys) is dropped; genuinely new text and
    short self-keyed texts pass. Emission is append-mode, so a far-
    future sentinel batch closes all earlier windows."""
    import datetime

    from ocr_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        stream_band_dedup,
    )

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def rows(conv, text, ts):
        return [(f"conv{conv}", 0, "user", text, "", ts)]

    long_a = "the quick brown fox jumps over the lazy dog near the river bank"
    long_b = "spark plans shuffle data between stages when keys must colocate"
    new_c = "completely different content about gardens flowers and honeybees"

    def write(name, data):
        spark.createDataFrame(data, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(dirs["in"], name))

    def run():
        stream = read_transcript_stream(spark, dirs["in"] + "/*")
        q = (
            stream_band_dedup(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", dirs["out"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: two distinct long texts + one short (self-keyed)
    write("b1", rows(0, long_a, t0) + rows(1, long_b, t0) + rows(2, "hi", t0))
    run()
    # batch 2 (+30 min): near-dups of batch 1 under NEW conv ids, one
    # genuinely new text, one short
    t1 = t0 + datetime.timedelta(minutes=30)
    write(
        "b2",
        rows(10, long_a, t1) + rows(11, long_b, t1)
        + rows(12, new_c, t1) + rows(13, "yo", t1),
    )
    run()
    # sentinel far in the future: advances the watermark past every
    # earlier window so all append-mode results are emitted
    write("b3", rows(99, "bye", t0 + datetime.timedelta(days=10)))
    run()

    got = {
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(dirs["out"]).collect()
    }
    # batch-1 content and all short turns kept; batch-2 near-dups dropped
    assert ("conv0", 0) in got and ("conv1", 0) in got
    assert ("conv2", 0) in got and ("conv13", 0) in got
    assert ("conv12", 0) in got  # new content passes
    assert ("conv10", 0) not in got and ("conv11", 0) not in got


def test_stream_static_enrich_no_state_and_left_semantics(spark, dirs):
    """Stream-static enrichment joins each micro-batch against the
    CURRENT static table (zero streaming state), and unmatched turns
    still flow with enriched=false."""
    from ocr_spark.streaming.incremental import stream_static_enrich

    _write_batch(spark, dirs["in"], 0, 6, "b1")
    turns_batch = spark.read.parquet(dirs["in"] + "/b1")
    convs = [r.conv_id for r in turns_batch.select("conv_id").distinct().collect()]
    enriched_convs = sorted(convs)[: len(convs) // 2]
    dim = spark.createDataFrame(
        [(c, f"tenant_{i}") for i, c in enumerate(enriched_convs)],
        "conv_id string, tenant string",
    )

    stream = read_transcript_stream(spark, dirs["in"] + "/*")
    q = (
        stream_static_enrich(stream, dim)
        .writeStream.format("parquet")
        .option("path", dirs["out"])
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(dirs["out"])
    assert got.count() == turns_batch.count()  # left join: nothing dropped
    by_conv = {
        r.conv_id: r.enriched
        for r in got.select("conv_id", "enriched").distinct().collect()
    }
    for c in convs:
        assert by_conv[c] == (c in enriched_convs)
    # batch twin equivalence: same enrichment the batch join produces
    batch = stream_static_enrich(turns_batch, dim)
    assert batch.filter("enriched").count() == got.filter("enriched").count()


def test_stream_to_store_crash_replay_is_idempotent(spark, dirs, tmp_path):
    """Streaming ingestion into the snapshot store: crash the query
    deterministically AFTER the first micro-batch committed a snapshot
    but BEFORE its checkpoint advanced (the _post_commit_hook seam
    raises inside foreachBatch), restart from the same checkpoint, and
    assert the STORE holds every input turn exactly once — the replay
    of the committed batch is a no-op because run_resumable plans an
    anti-join against committed keys."""
    for i in range(12):
        _write_batch(spark, dirs["in"], i * 2, 2, f"w{i}")
    total_in = spark.read.parquet(dirs["in"] + "/*").count()
    store = str(tmp_path / "store")

    def crash_after_first_commit(batch_id: int) -> None:
        raise RuntimeError("injected crash after snapshot commit")

    q = stream_to_store(
        spark, dirs["in"] + "/*", store, dirs["ckpt"],
        max_files_per_trigger=1, _post_commit_hook=crash_after_first_commit,
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    committed = read_snapshots(spark, store)
    partial = committed.count() if committed is not None else 0
    # exactly one micro-batch (one input file) landed, then the crash
    assert 0 < partial < total_in

    q = stream_to_store(
        spark, dirs["in"] + "/*", store, dirs["ckpt"], max_files_per_trigger=1
    )
    q.awaitTermination()
    got = read_snapshots(spark, store)
    assert got.count() == total_in
    assert got.select("conv_id", "turn_idx").distinct().count() == total_in
    # values identical to the batch extraction of the same input
    want = _sorted_extract(extract(spark.read.parquet(dirs["in"] + "/*")))
    assert _sorted_extract(got) == want
    # the store stayed an ordinary snapshot store: every consumer works
    assert snapshots_df(spark, store).count() >= 2


def test_stream_decontam_gate_drops_eval_collisions(spark, dirs, tmp_path):
    """Streaming decontamination: a turn whose text is an eval doc (or a
    band-colliding near-copy) is dropped at ingest; clean long texts and
    short self-keyed texts pass. The eval side is stream-STATIC, so the
    only streaming state is the windowed all-bands-survive count."""
    import datetime

    from ocr_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        stream_decontam_gate,
    )

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    leaked = "which question answers the benchmark item about rivers and dams"
    clean = "spark plans shuffle data between stages when keys must colocate"

    evaldir = str(tmp_path / "evalset")
    spark.createDataFrame(
        [(1, leaked)], "doc_id bigint, text string"
    ).write.parquet(evaldir)

    def rows(conv, text, ts):
        return [(f"conv{conv}", 0, "user", text, "", ts)]

    def write(name, data):
        spark.createDataFrame(data, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(dirs["in"], name))

    def run():
        stream = read_transcript_stream(spark, dirs["in"] + "/*")
        q = (
            stream_decontam_gate(
                stream, spark.read.parquet(evaldir), watermark="2 hours"
            )
            .writeStream.format("parquet")
            .option("path", dirs["out"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write("b1", rows(0, leaked, t0) + rows(1, clean, t0) + rows(2, "hi", t0))
    run()
    # sentinel far in the future closes all earlier windows (append mode)
    write(
        "b2", rows(99, "bye", t0 + datetime.timedelta(days=10))
    )
    run()

    got = {
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(dirs["out"]).collect()
    }
    assert ("conv1", 0) in got  # clean long text passes
    assert ("conv2", 0) in got  # short self-keyed text passes
    assert ("conv0", 0) not in got  # eval-leaked text dropped at ingest


def test_stream_decontam_gate_redelivery_and_short_eval_docs(spark, dirs, tmp_path):
    """Two behaviors an ingest gate must get right beyond the happy path:
    an at-least-once upstream redelivering a CLEAN turn (two copies in
    one window) must not inflate the per-turn band count past `bands`
    and silently drop it — the (turn, band) dedup state absorbs the
    replay and the turn passes exactly once; and a SHORT eval doc (<3
    tokens, no shingles) still gates, because both sides self-key short
    texts by normalized whole text — a leaked 1-2-token benchmark answer
    is dropped while a different short turn passes."""
    import datetime

    from ocr_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        stream_decontam_gate,
    )

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    clean = "spark plans shuffle data between stages when keys must colocate"

    evaldir = str(tmp_path / "evalset")
    spark.createDataFrame(
        [(1, "Paris")], "doc_id bigint, text string"
    ).write.parquet(evaldir)

    def rows(conv, text, ts):
        return [(f"conv{conv}", 0, "user", text, "", ts)]

    def write(name, data):
        spark.createDataFrame(data, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(dirs["in"], name))

    def run():
        stream = read_transcript_stream(spark, dirs["in"] + "/*")
        q = (
            stream_decontam_gate(
                stream, spark.read.parquet(evaldir), watermark="2 hours"
            )
            .writeStream.format("parquet")
            .option("path", dirs["out"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # conv0's clean turn is delivered TWICE (two files, same window);
    # conv1 leaks the short eval answer verbatim (case/space-normalized);
    # conv2 is a different short text.
    write("b1", rows(0, clean, t0) + rows(1, "  paris ", t0))
    write("b1dup", rows(0, clean, t0) + rows(2, "Lyon", t0))
    run()
    write("b2", rows(99, "bye", t0 + datetime.timedelta(days=10)))
    run()

    out = [
        (r.conv_id, r.turn_idx)
        for r in spark.read.parquet(dirs["out"]).collect()
    ]
    assert out.count(("conv0", 0)) == 1  # redelivered clean turn: once
    assert ("conv1", 0) not in out  # short eval answer gated exactly
    assert ("conv2", 0) in out  # different short turn passes


def test_stream_novelty_gate_drops_boilerplate(spark, dirs, tmp_path):
    """Streaming novelty gate: a turn mostly made of corpus grams is
    dropped at ingest; a novel turn passes with novelty 1.0; short
    turns are exact-text gated on both sides (dup dropped, unique
    kept). Redelivering a batch must not skew the gram ratio (the
    (turn, gram) dedup state absorbs at-least-once input)."""
    import datetime

    from ocr_spark.streaming.incremental import (
        TRANSCRIPT_SCHEMA,
        stream_novelty_gate,
    )

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    corpus_text = "alpha beta gamma delta epsilon zeta eta theta"
    # shares 5 of its 6 grams with the corpus -> novelty 1/6 < 0.5
    stale = "alpha beta gamma delta epsilon zeta eta omega"
    novel = "entirely different words about spark shuffles and joins"

    corpdir = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, corpus_text), (2, "hi")], "doc_id bigint, text string"
    ).write.parquet(corpdir)

    def rows(conv, text, ts):
        return [(f"conv{conv}", 0, "user", text, "", ts)]

    def write(name, data):
        spark.createDataFrame(data, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(dirs["in"], name))

    def run():
        stream = read_transcript_stream(spark, dirs["in"] + "/*")
        q = (
            stream_novelty_gate(
                stream, spark.read.parquet(corpdir), watermark="2 hours"
            )
            .writeStream.format("parquet")
            .option("path", dirs["out"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch = (
        rows(0, stale, t0)
        + rows(1, novel, t0)
        + rows(2, "hi", t0)       # short dup of corpus doc 2 -> dropped
        + rows(3, "yo", t0)       # short unique -> kept
    )
    write("b1", batch)
    run()
    # redeliver the same rows (at-least-once upstream), then a far-future
    # sentinel to close the windows
    write("b1_again", batch)
    run()
    write("b2", rows(99, "bye", t0 + datetime.timedelta(days=10)))
    run()

    got = {
        (r.conv_id, r.turn_idx): r.novelty
        for r in spark.read.parquet(dirs["out"]).collect()
        if r.conv_id != "conv99"
    }
    assert set(got) == {("conv1", 0), ("conv3", 0)}
    assert got[("conv1", 0)] == 1.0
    assert got[("conv3", 0)] == 1.0


def test_stream_rollout_gate_dedups_and_enforces_budget(spark, dirs):
    """Streaming rollout admission: byte-identical completions within a
    prompt group are suppressed, each group admits at most
    max_per_group trajectories in (ts, conv_id) order, and redelivering
    a batch (at-least-once source) emits nothing new."""
    import datetime

    from ocr_spark.streaming.incremental import (
        ROLLOUT_SCHEMA,
        stream_rollout_gate,
    )

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def row(group, conv, fp, secs):
        return (group, conv, fp, t0 + datetime.timedelta(seconds=secs))

    def write(name, data):
        spark.createDataFrame(data, ROLLOUT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(dirs["in"], name))

    def run():
        stream = (
            spark.readStream.schema(ROLLOUT_SCHEMA)
            .parquet(dirs["in"] + "/*")
        )
        q = (
            stream_rollout_gate(stream, watermark="2 hours", max_per_group=2)
            .writeStream.format("parquet")
            .option("path", dirs["out"])
            .option("checkpointLocation", dirs["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch = [
        # group g0: 4 arrivals, one an exact dup -> dedup to 3, cap to 2
        row("g0", "c1", "fpA", 0),
        row("g0", "c2", "fpA", 10),   # byte-identical dup of c1 -> dropped
        row("g0", "c3", "fpB", 20),   # admitted (slot 2)
        row("g0", "c4", "fpC", 30),   # over budget -> dropped
        # group g1: one arrival, one budget slot left for a later batch
        row("g1", "c5", "fpD", 0),
    ]
    write("b1", batch)
    run()
    # redeliver everything: admitted rows must not re-emit
    write("b1_again", batch)
    run()
    # a later batch: group g0 is full, group g1 has one slot left
    write("b2", [row("g0", "c7", "fpF", 60), row("g1", "c8", "fpG", 60)])
    run()

    got = {(r.prompt_group, r.conv_id) for r in spark.read.parquet(dirs["out"]).collect()}
    assert got == {("g0", "c1"), ("g0", "c3"), ("g1", "c5"), ("g1", "c8")}


def test_watermark_lateness_audit_matches_pure_python(spark):
    """Batch companion of the streaming family: the lateness audit that
    sizes these watermarks, re-derived in pure Python (running max over
    arrival order per type) and checked for non-vacuity — the adapter's
    0-3600 s delays must produce real disorder straddling the 30-minute
    default."""
    import hashlib
    import math

    import ocr_spark.queries as Q

    ev = Q._t(spark, "/root/testdata/sf0.01", "events").select(
        "event_type", "event_id", "ts"
    ).collect()
    per_type: dict[str, list[tuple[int, int, int]]] = {}
    for r in ev:
        t = int(math.floor(r["ts"].timestamp()))
        d = int(hashlib.md5(str(r["event_id"]).encode()).hexdigest()[:4], 16) % 3600
        per_type.setdefault(r["event_type"], []).append((t + d, r["event_id"], t))
    expected = {}
    for etype, rows in per_type.items():
        rows.sort()
        run, lates = -(10**18), []
        for _arr, _eid, t in rows:
            run = max(run, t)
            lates.append(max(0, run - t))
        lates_sorted = sorted(lates)

        def q(p):
            # linear interpolation, same as percentile()/quantile_cont
            k = (len(lates_sorted) - 1) * p
            f, c = math.floor(k), math.ceil(k)
            if f == c:
                return float(lates_sorted[int(k)])
            return lates_sorted[f] * (c - k) + lates_sorted[c] * (k - f)

        expected[etype] = (
            len(lates),
            round(q(0.5), 4),
            round(q(0.99), 4),
            max(lates),
            round(sum(1.0 for x in lates if x > 1800) / len(lates), 6),
        )
    got = {
        r["event_type"]: (
            r["n_events"],
            r["p50_late_s"],
            r["p99_late_s"],
            r["max_late_s"],
            r["frac_dropped_at_30m"],
        )
        for r in Q.q_watermark_lateness(spark, "/root/testdata/sf0.01").collect()
    }
    assert got == expected
    # non-vacuous: real disorder exists, and the 30-minute default drops
    # a nonzero-but-partial fraction somewhere
    assert any(v[3] > 0 for v in got.values())
    assert any(0 < v[4] < 1 for v in got.values())
