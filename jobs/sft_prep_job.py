#!/usr/bin/env python
"""spark-submit entry point for SFT training-pair preparation.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/sft_prep_job.py --input /path/transcripts_parquet \
        --output /path/sft_pairs [--max-gap-s 1800] [--context-k 3] \
        [--novelty-gate] [--novelty-role assistant]

Runs the transcript training-prep chain over a BASELINE-shaped
transcripts table ``(conv_id, turn_idx, role, text, tool, ts)``:
idle-gap sessionization -> bounded context assembly -> (prompt,
response) pair mining -> optional turn-novelty gate -> exact pair dedup
keyed on the 32-byte pair fingerprint (keep the first occurrence by
(conv_id, turn_idx), so full texts never re-shuffle for dedup).
``--novelty-gate`` additionally drops pairs whose RESPONSE turn is a
corpus-wide repeated turn (non-novel under turn_novelty_mask): canned
apologies / templated headers survive pair-level dedup because their
prompts differ, but still dominate an SFT gradient. Writes the deduped
pairs parquet and prints one JSON metrics line (turns in, sessions,
pairs mined, pairs kept, and — gated — pairs_premask/pairs_repeated).
Every window in the chain shares one hashpartitioning(conv_id)
Exchange; the dedup adds a fingerprint (32-byte) shuffle. The novelty
gate adds the mask's turn-hash shuffle — ids only, never text — plus
one (conv_id, turn_idx) join Exchange in which the pair rows DO move
once to meet the id-only mask side.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="output dir for pairs")
    ap.add_argument("--max-gap-s", type=int, default=1800)
    ap.add_argument("--context-k", type=int, default=3)
    ap.add_argument(
        "--novelty-gate",
        action="store_true",
        help="drop pairs whose response turn is a corpus-wide repeated "
        "(non-novel) turn before pair dedup",
    )
    ap.add_argument(
        "--novelty-role",
        default="assistant",
        help="role whose turns the novelty mask covers ('' = all roles)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_sft_prep")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.transcript_prep import (
        assemble_context,
        sessionize,
        sft_pairs,
    )

    t0 = time.time()
    from pyspark.sql import Observation

    obs = Observation("sft_prep")
    transcripts = spark.read.parquet(args.input).observe(
        obs, F.count(F.lit(1)).alias("turns_in")
    )
    # persisted: the session-count metric below re-reads this instead of
    # re-running the window chain over the full input (MEMORY_AND_DISK,
    # so it spills rather than evicts on big inputs)
    sessioned = sessionize(transcripts, max_gap_s=args.max_gap_s).persist()
    with_ctx = assemble_context(sessioned, k=args.context_k)
    pairs = sft_pairs(with_ctx, keep=("session_idx", "context_fp"))
    novelty_obs = None
    if args.novelty_gate:
        from ocr_spark.transcript_prep import turn_novelty_mask

        mask = turn_novelty_mask(
            transcripts, role=args.novelty_role or None
        ).select("conv_id", "turn_idx", "novel")
        novelty_obs = Observation("novelty")
        pairs = (
            pairs.join(mask, ["conv_id", "turn_idx"], "left")
            .observe(
                novelty_obs,
                F.count(F.lit(1)).alias("pairs_premask"),
                F.sum(
                    F.when(F.col("novel") == False, 1).otherwise(0)  # noqa: E712
                ).alias("pairs_repeated"),
            )
            # a pair whose response turn the mask does not cover (role
            # mismatch) passes through untouched
            .filter(F.coalesce("novel", F.lit(True)))
            .drop("novel")
        )
    # exact pair dedup on the fingerprint; deterministic keep-first
    deduped = (
        pairs.groupBy("pair_fp")
        .agg(
            F.min(
                F.struct(
                    "conv_id",
                    "turn_idx",
                    "session_idx",
                    "context_fp",
                    "prompt_text",
                    "response_text",
                )
            ).alias("keep"),
            F.count("*").cast("bigint").alias("n_dups"),
        )
        .select("keep.*", "pair_fp", "n_dups")
    )
    deduped.write.mode("overwrite").parquet(args.output)

    # metrics WITHOUT re-running the transform chain: turns_in was
    # observed during the write, sessions reads the persisted session
    # frame, and pairs_mined is the sum of dedup multiplicities already
    # sitting in the output
    out = spark.read.parquet(args.output)
    agg = out.agg(
        F.count(F.lit(1)).alias("kept"), F.sum("n_dups").alias("mined")
    ).first()
    stats = {
        "turns_in": obs.get["turns_in"],
        "sessions": sessioned.select("conv_id", "session_idx")
        .distinct()
        .count(),
        "pairs_mined": int(agg["mined"] or 0),
        "pairs_kept": agg["kept"],
        "wall_s": round(time.time() - t0, 1),
        "output": args.output,
    }
    if novelty_obs is not None:
        stats["pairs_premask"] = novelty_obs.get["pairs_premask"]
        stats["pairs_repeated"] = int(novelty_obs.get["pairs_repeated"] or 0)
    sessioned.unpersist()
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
