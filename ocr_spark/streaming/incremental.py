"""Structured Streaming surface: continuous ingestion of transcript turns.

The reference is request/response (Celery work queue with at-least-once
redelivery, ``celery_app.py:55-66,84-85``), not a stream — but a 100 TB
deployment ingests transcripts continuously, so the engine exposes the
same extraction plan as an incremental Structured Streaming job:

- ``stream_to_store``: file-source stream -> each micro-batch committed
  through ``pipeline.run_resumable`` (foreachBatch), so streamed turns
  land as ordinary snapshots of the batch store, parsed by the same
  ``mapInArrow`` ``extract``. The checkpoint records the input files
  each batch consumed; a replayed batch is a no-op because the resume
  anti-join skips every committed key — exactly-once with no second
  commit log.
- ``windowed_turn_counts``: event-time tumbling window + watermark for
  late turns (the batch engine has no watermark concept; this is the
  streaming analog of the per-window metrics rollup).
- ``stateful_conv_progress``: custom stateful operator via
  ``applyInPandasWithState`` — a running per-conversation progress row
  (≙ the reference's progress beacon, ``tasks/pdf_hybrid_tasks.py:174-176``
  / ``redis_service.py:379-409``), emitted on every update.
- ``stream_turn_ack_join``: watermarked stream-stream interval join
  (turn matched to its delivery ack within a lag bound) — join state on
  both sides is evicted by the watermark + time-range predicate.

Scale notes: the file source lists new files per trigger (at real scale
use Iceberg/Kafka sources — same plan); state is per-conv_id and
partitioned by the shuffle, so a hot conversation is one state row, not
a hot partition; watermark bounds state size for the windowed agg.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# the one canonical transcript schema lives with the source readers;
# re-exported here for back-compat (tests and callers import it from
# either module)
from ocr_spark.sources import TRANSCRIPT_SCHEMA  # noqa: F401


# Short texts (<3 tokens) have no shingles/grams; BOTH the stream side
# and the static corpus/eval side self-key them on THIS normalization of
# the whole text, turning the fallback into an exact-text gate. One
# constant so the two sides (and the two gates) can never diverge.
_SHORT_NORM = r"regexp_replace(lower(trim(text)), '\\s+', ' ')"


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_to_store(
    spark: SparkSession,
    input_dir: str,
    store_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 64,
    _post_commit_hook=None,
):
    """Streaming ingestion INTO the snapshot store — continuous CDC
    append unified with the batch table: each micro-batch commits
    through ``pipeline.run_resumable`` via foreachBatch, so streamed
    turns land as ordinary marker-gated snapshots that every batch
    consumer (rollup, curate, maintenance, diff_snapshots) reads
    unchanged.

    Exactly-once WITHOUT relying on the sink's own commit log: the
    checkpoint makes batch replay possible (a crash after commit but
    before the checkpoint advances re-delivers the batch), and the
    store's anti-join-against-committed-keys planning makes the replay
    a NO-OP — idempotent append, the foreachBatch analog of Iceberg's
    MERGE-on-batch-id pattern. Crash-tested in tests/test_streaming.py.

    ``_post_commit_hook(batch_id)`` is a test seam invoked after a
    micro-batch's snapshot commit but BEFORE foreachBatch returns (i.e.
    before the checkpoint advances) — raising from it reproduces the
    crash-after-commit-before-checkpoint window deterministically.

    Returns the started StreamingQuery (availableNow trigger)."""
    from ocr_spark.pipeline import run_resumable

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        run_resumable(
            batch_df.sparkSession, batch_df, store_root,
            run_id=f"stream{batch_id:06d}",
        )
        if _post_commit_hook is not None:
            _post_commit_hook(batch_id)

    return (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_turn_counts(
    transcripts: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window per role with late-data watermark."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("role"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("chars"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "role",
            "n_turns",
            "chars",
        )
    )


_PROGRESS_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turns_done", T.LongType(), True),
        T.StructField("bytes_done", T.LongType(), True),
        T.StructField("max_turn_idx", T.IntegerType(), True),
    ]
)

_PROGRESS_STATE = T.StructType(
    [
        T.StructField("turns_done", T.LongType(), True),
        T.StructField("bytes_done", T.LongType(), True),
        T.StructField("max_turn_idx", T.IntegerType(), True),
    ]
)


def _progress_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    turns, nbytes, max_idx = (state.get if state.exists else (0, 0, -1))
    for pdf in pdfs:
        turns += len(pdf)
        nbytes += int(pdf["text"].str.len().fillna(0).sum())
        if len(pdf):
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
    state.update((turns, nbytes, max_idx))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "turns_done": [turns],
            "bytes_done": [nbytes],
            "max_turn_idx": [max_idx],
        }
    )


def stateful_conv_progress(transcripts: DataFrame) -> DataFrame:
    """Running per-conversation progress (custom stateful operator,
    streaming-only: ``applyInPandasWithState`` requires a streaming
    DataFrame; state accumulates across triggers)."""
    return transcripts.groupBy("conv_id").applyInPandasWithState(
        _progress_fn,
        outputStructType=_PROGRESS_OUT,
        stateStructType=_PROGRESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_exact(
    transcripts: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup (the A6 memoization under continuous
    ingestion): drop re-delivered/duplicate turns by content key within
    the watermark horizon. ``dropDuplicatesWithinWatermark`` keys state
    on (conv_id, turn_idx, sha) and EVICTS each key once the watermark
    passes it — state stays bounded by the late-data horizon instead of
    growing with the corpus (the unbounded-state failure mode of a plain
    dropDuplicates at 10^12 turns)."""
    keyed = transcripts.withWatermark("ts", watermark).withColumn(
        "sha", F.sha2(F.col("text").cast("binary"), 256)
    )
    return keyed.dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "sha"])


ACK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("ack_ts", T.TimestampType(), True),
    ]
)


def read_ack_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(ACK_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(input_dir)
    )


def stream_turn_ack_join(
    turns: DataFrame,
    acks: DataFrame,
    watermark: str = "30 minutes",
    max_lag_minutes: int = 10,
) -> DataFrame:
    """Watermarked stream-stream inner join: each turn matched to its
    delivery ack arriving within ``max_lag_minutes`` after the turn
    (the streaming twin of the batch T4 line join against a second
    continuously-arriving table).

    Both sides carry event-time watermarks AND the join predicate bounds
    ack_ts relative to ts — that pair is what lets Spark EVICT join
    state: the turn buffer holds at most watermark+max_lag of events,
    the ack buffer at most the watermark. Without the time-range
    predicate the turn side would buffer forever (the unbounded-state
    failure mode of stream-stream joins at 10^12 turns). Equi-keys
    (conv_id, turn_idx) keep the join a hash join partitioned by
    conversation — a hot conversation is one state partition's worth of
    in-horizon turns, not a replay of history."""
    t = turns.withWatermark("ts", watermark).alias("t")
    a = acks.withWatermark("ack_ts", watermark).alias("a")
    joined = t.join(
        a,
        F.expr(
            "t.conv_id = a.conv_id AND t.turn_idx = a.turn_idx"
            " AND a.ack_ts >= t.ts"
            f" AND a.ack_ts <= t.ts + interval {int(max_lag_minutes)} minutes"
        ),
        "inner",
    )
    return joined.select(
        F.col("t.conv_id").alias("conv_id"),
        F.col("t.turn_idx").alias("turn_idx"),
        F.col("t.role").alias("role"),
        F.col("t.ts").alias("ts"),
        F.col("a.ack_ts").alias("ack_ts"),
        (
            F.col("a.ack_ts").cast("double") - F.col("t.ts").cast("double")
        ).alias("lag_s"),
    )


def session_turn_stats(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming session windows: per-conversation activity sessions that
    close after ``gap`` of event-time silence (native ``session_window``
    — state is one open window per conv_id, bounded by the watermark;
    the streaming twin of the batch ``session_window_agg`` query)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("chars"),
        )
        .select(
            F.col("win.start").alias("sess_start"),
            F.col("win.end").alias("sess_end"),
            "conv_id",
            "n_turns",
            "chars",
        )
    )


def run_session_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
):
    """Session-window stats as an append-mode stream (the watermark
    finalizes sessions; closed sessions land in the sink exactly once)."""
    stream = read_transcript_stream(spark, input_dir)
    stats = session_turn_stats(stream, gap=gap, watermark=watermark)
    return (
        stats.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_windowed_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
):
    """Windowed role metrics as an append-mode stream (watermark closes
    windows; closed windows land in the parquet sink exactly once)."""
    stream = read_transcript_stream(spark, input_dir)
    counts = windowed_turn_counts(stream, window=window, watermark=watermark)
    return (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 5,
    min_quality: float = 0.1,
    min_stopword: float = 0.0,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 64,
):
    """Continuous corpus curation: the batch curate() stages under
    Structured Streaming. Scalar gates run unchanged (stateless builtin
    expressions — parity pinned in tests); exact dedup becomes
    ``dropDuplicatesWithinWatermark`` keyed on the content sha (state
    bounded by the late-data horizon instead of the corpus — at 10^12
    turns an unbounded dedup state is the failure mode); the
    content-keyed split is deterministic, so batch and streaming runs
    assign identical splits. Sink partitioned by split with the parquet
    commit log (exactly-once per input file)."""
    from ocr_spark.curate import gate_corpus
    from ocr_spark.functions import split_assign

    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    corpus = stream.select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id"),
        "text",
        "ts",
    )
    gated = gate_corpus(
        corpus,
        min_quality=min_quality,
        min_stopword=min_stopword,
        min_tokens=min_tokens,
        keep=("ts",),
    )
    deduped = (
        gated.withWatermark("ts", watermark)
        .withColumn("sha", F.sha2(F.col("text").cast("binary"), 256))
        .dropDuplicatesWithinWatermark(["sha"])
    )
    curated = deduped.select(
        "doc_id",
        "text",
        "n_tokens",
        "quality",
        split_assign("doc_id", "text").alias("split"),
    )
    return (
        curated.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("split")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_band_dedup(
    transcripts: DataFrame,
    watermark: str = "1 hour",
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Streaming NEAR-dup dedup: the fuzzy twin of ``stream_dedup_exact``.

    Each turn's text becomes ``bands`` MinHash band keys computed
    entirely per-row (``ocr_spark.dedup.rowwise_band_keys`` — narrow
    higher-order array functions, so the signature stage is stateless
    and legal under streaming). Semantics (keep-first band ownership,
    the streaming analog of LSH candidate suppression): a turn is kept
    iff it is the first arrival — within the watermark horizon — of ALL
    its band keys; a later turn colliding with ANY previously seen band
    is a near-dup candidate and is dropped without a verify pass (the
    recall/precision trade a streaming ingest gate makes; the batch
    chain re-verifies offline). Short texts (<3 tokens) self-key and
    always pass.

    State shape: two chained stateful operators in append mode —
    ``dropDuplicatesWithinWatermark`` keyed on band_key (state = one row
    per distinct band key, EVICTED at the watermark) followed by a
    windowed per-turn count that emits turns owning all ``bands`` keys
    once their window closes. Both states are watermark-bounded, never
    corpus-bounded. The batch twin (``band_dedup_keep_first``, DuckDB
    oracle-checked) pins the keep-first ownership semantics.
    """
    from ocr_spark.dedup import rowwise_band_keys

    banded = rowwise_band_keys(
        transcripts.select("conv_id", "turn_idx", "text", "ts"),
        self_key="concat(conv_id, ':', turn_idx)",
        bands=bands,
        rows_per_band=rows_per_band,
    )
    first = banded.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["band_key"]
    )
    owned = (
        first.groupBy(
            F.window("ts", "10 minutes"), "conv_id", "turn_idx"
        ).agg(F.count("*").alias("n_owned"))
    )
    return owned.filter(F.col("n_owned") == bands).select(
        "conv_id", "turn_idx", F.col("window.start").alias("win_start")
    )


def stream_decontam_gate(
    transcripts: DataFrame,
    eval_docs: DataFrame,
    watermark: str = "1 hour",
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Streaming benchmark-decontamination gate: the online twin of
    ``dedup.fuzzy_decontam_report`` / ``jobs/decontam_job.py``. Arriving
    turns whose MinHash bands collide with the held-out eval set are
    dropped AT INGEST, so leaked benchmark text never reaches the
    training store (band-collision recall, no verify pass — the same
    precision trade ``stream_band_dedup`` makes; the batch job
    re-verifies offline with exact Jaccard).

    Streaming legality/state shape: the per-turn band keys are narrow
    per-row array math (``rowwise_band_keys``); the eval comparison is a
    stream-STATIC broadcast left_anti per band (zero streaming state —
    an eval table refreshed on disk takes effect at the next trigger);
    the stateful operators are a (turn, band) dedup (so an
    at-least-once redelivery can't inflate the count past ``bands`` and
    drop a clean turn) and the windowed all-bands-survive count (a turn
    passes iff NONE of its ``bands`` keys collided), both
    watermark-bounded exactly like ``stream_band_dedup``'s ownership
    aggregate. Short texts (<3 tokens) are gated by EXACT normalized
    text equality against short eval docs (both sides self-key on
    normalized whole text), so 1-2-token benchmark answers are still
    protected; short turns not in the eval set always pass.

    ``eval_docs`` is a static (doc_id, text) table; its band keys are
    benchmark-sized at any corpus scale, hence the broadcast."""
    from ocr_spark.dedup import rowwise_band_keys

    # Short texts (<3 tokens) have no shingles, so rowwise_band_keys
    # falls back to self-keys. A per-doc-unique self_key (doc_id) would
    # make short EVAL docs unmatchable — a leaked 1-2-token benchmark
    # answer would always pass the gate. Keying BOTH sides' short texts
    # by normalized whole text instead turns the fallback into an
    # exact-text gate: a short turn equal to a short eval doc collides
    # on every band and is dropped; unequal short turns never collide.
    eval_keys = (
        rowwise_band_keys(
            eval_docs.select("doc_id", "text"),
            self_key=_SHORT_NORM,
            bands=bands,
            rows_per_band=rows_per_band,
        )
        .select("band_key")
        .distinct()
    )
    banded = rowwise_band_keys(
        transcripts.select("conv_id", "turn_idx", "text", "ts"),
        self_key=_SHORT_NORM,
        bands=bands,
        rows_per_band=rows_per_band,
    )
    # an at-least-once upstream can deliver the same turn twice inside
    # one window; each copy emits `bands` rows, so a raw count would be
    # 2*bands != bands and a CLEAN turn would be silently dropped.
    # Dedup the (turn, band) rows within the watermark first — exact
    # count_distinct is illegal in streaming aggs, but a keyed
    # dropDuplicatesWithinWatermark state is not.
    deduped = (
        banded.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "band"])
    )
    clean_bands = deduped.join(F.broadcast(eval_keys), "band_key", "left_anti")
    survived = (
        clean_bands
        .groupBy(F.window("ts", "10 minutes"), "conv_id", "turn_idx")
        .agg(F.count("*").alias("n_clean"))
    )
    return survived.filter(F.col("n_clean") == bands).select(
        "conv_id", "turn_idx", F.col("window.start").alias("win_start")
    )


def stream_static_enrich(turns: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment — the most common production
    streaming join: every arriving turn picks up its conversation's
    dimension row (routing metadata, tenant, priority). Unlike
    stream-stream joins this keeps ZERO streaming state: nothing to
    watermark, nothing to evict — the static side is (re-)resolved per
    micro-batch, so a dim table refreshed on disk takes effect at the
    next trigger, and broadcasting it keeps the stream side's
    partitioning untouched (no shuffle added to the hot path). Left
    join: a turn with no dim row still flows, flagged unenriched. The
    flag comes from an explicit match marker, not a dim column — a dim
    row whose attribute happens to be NULL still counts as enriched."""
    marked = dim.withColumn("_dim_matched", F.lit(True))
    return (
        turns.join(F.broadcast(marked), "conv_id", "left")
        .withColumn("enriched", F.col("_dim_matched").isNotNull())
        .drop("_dim_matched")
    )


def stream_novelty_gate(
    transcripts: DataFrame,
    corpus_docs: DataFrame,
    watermark: str = "1 hour",
    min_novelty: float = 0.5,
) -> DataFrame:
    """Streaming novelty gate — the online twin of the batch
    ``ngram_novelty_incremental`` query / ``curate.ngram_novelty_vs_corpus``:
    arriving turns whose 3-gram content is mostly already in the frozen
    corpus (novel-gram fraction < ``min_novelty``) are dropped AT
    INGEST, so near-boilerplate never reaches the training store.

    Streaming legality/state shape: per-turn grams are narrow per-row
    array math (``dedup.rowwise_grams``); the corpus comparison is a
    stream-STATIC left join on the gram key (zero streaming state; at
    real scale the materialized corpus gram table is bucketed by gram so
    each trigger's join is co-located rather than re-shuffled); the
    stateful operators are a (turn, gram) dedup within the watermark
    (an at-least-once redelivery would otherwise double-count grams and
    skew the ratio) and the windowed novelty count — both
    watermark-bounded, exactly the ``stream_decontam_gate`` pattern.
    Short texts (<3 tokens) self-key on normalized whole text on BOTH
    sides, so a short turn equal to a short corpus doc scores novelty 0
    (dropped) and a unique short turn scores 1 (kept).
    """
    from ocr_spark.dedup import rowwise_grams

    corpus_grams = (
        rowwise_grams(corpus_docs.select("text"), self_key=_SHORT_NORM)
        .select("gram")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    turn_grams = rowwise_grams(
        transcripts.select("conv_id", "turn_idx", "text", "ts"),
        self_key=_SHORT_NORM,
    ).select("conv_id", "turn_idx", "ts", "gram")
    deduped = turn_grams.withWatermark(
        "ts", watermark
    ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "gram"])
    marked = deduped.join(corpus_grams, "gram", "left")
    scored = (
        marked.groupBy(F.window("ts", "10 minutes"), "conv_id", "turn_idx")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.expr("if(in_corpus is null, 1, 0)")).alias("n_novel"),
        )
    )
    return scored.filter(
        F.col("n_novel") >= F.lit(min_novelty) * F.col("n_grams")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("window.start").alias("win_start"),
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
    )


ROLLOUT_SCHEMA = (
    "prompt_group string, conv_id string, completion_fp string, ts timestamp"
)
_ROLLOUT_STATE = "admitted array<string>"


def _rollout_budget_fn(max_per_group: int):
    """Factory for the per-prompt-group budget state function: admit the
    first ``max_per_group`` arrivals (ts, then conv_id order inside each
    trigger) and drop the rest. State is the admitted conv_id list —
    bounded by the cap, never by the stream — so a redelivered admitted
    row is recognized and NOT re-emitted (idempotent under the
    at-least-once source contract; byte-identical completions never
    even reach here, stage 1 absorbs them)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (prompt_group,) = key
        admitted = list(state.get[0]) if state.exists else []
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "conv_id"], kind="mergesort")
            keep_rows = []
            for _, row in batch.iterrows():
                if row["conv_id"] in admitted:
                    continue  # redelivery of an admitted row: no re-emit
                if len(admitted) >= max_per_group:
                    continue
                admitted.append(row["conv_id"])
                keep_rows.append(row)
            state.update((admitted,))
            if keep_rows:
                yield pd.DataFrame(keep_rows)[
                    ["prompt_group", "conv_id", "completion_fp", "ts"]
                ]

    return fn


def stream_rollout_gate(
    rollouts: DataFrame, watermark: str = "1 hour", max_per_group: int = 4
) -> DataFrame:
    """Streaming rollout admission gate — the online twin of the batch
    ``prompt_rollout_dedup`` reduction: completed-trajectory records
    ``(prompt_group, conv_id, completion_fp, ts)`` arrive as the
    sampler finishes them, and the training buffer must see (a) no
    byte-identical completion twice per prompt group and (b) at most
    ``max_per_group`` trajectories per group — over-sampled prompts
    waste buffer and skew the mixture.

    State shape: stage 1 is ``dropDuplicatesWithinWatermark`` on
    (prompt_group, completion_fp) — one row of state per distinct
    completion, EVICTED at the watermark, which also absorbs
    at-least-once redelivery. Stage 2 is a custom
    ``applyInPandasWithState`` budget counter per prompt group whose
    state (the admitted conv_id list) is bounded by the cap, never by
    stream length. Admission order is deterministic (ts, then conv_id)
    within each trigger. The batch twin (``prompt_rollout_dedup``,
    DuckDB oracle-checked) pins the dedup semantics."""
    deduped = rollouts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["prompt_group", "completion_fp"]
    )
    return deduped.groupBy("prompt_group").applyInPandasWithState(
        _rollout_budget_fn(max_per_group),
        outputStructType=ROLLOUT_SCHEMA,
        stateStructType=_ROLLOUT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
