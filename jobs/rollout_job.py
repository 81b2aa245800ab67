#!/usr/bin/env python
"""spark-submit entry point for RL-rollout reduction.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/rollout_job.py --input /path/transcripts_parquet \
        --output /path/rollout_out [--reward-col reward] \
        [--stuck-at 3] [--pass-k 4] [--success-threshold 0.5] \
        [--prompt-group-mod 0]

Runs the group-wise reductions between sampling and training over a
BASELINE-shaped transcripts table ``(conv_id, turn_idx, role, text,
tool, ts)``: stuck-loop gating (digit/whitespace-collapsed response
templates) -> trajectory fingerprinting -> shared-prompt dedup stats ->
best-of-n winners, GRPO advantages, and pass@k per prompt group. With
``--reward-col`` the named per-turn column's conversation max is the
trajectory reward; without it a deterministic hash-uniform stand-in is
derived from the fingerprint (stated in the metrics line, so a missing
reward column can never silently masquerade as a real one).
``--prompt-group-mod N`` buckets prompt groups mod N for small sandbox
corpora where every first turn is unique; 0 (default) groups by the
verbatim first-turn hash, the production setting.

Writes loop_stats/, group_stats/, winners/, advantages/,
preference_pairs/ (gap >= --dpo-margin), debiased/ (length-debiased
reward residuals), pass_at_k/, prefix_cache/ (per-group KV-prefix-cache
savings from the group's set-LCP), consensus/ (self-consistency
plurality answer + vote entropy per group, answer = each rollout's
final trimmed turn) parquet and prints one JSON metrics line. Scale
shape: every window and
rollup is conv- or group-keyed (see ocr_spark/rollouts.py docstrings);
after the fingerprint rollup only 32-byte hashes move — except the
prefix-cache step, which by construction folds full trajectories once
more (two survive per group: the lexicographic extremes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--reward-col", default=None)
    ap.add_argument("--stuck-at", type=int, default=3)
    ap.add_argument("--pass-k", type=int, default=4)
    ap.add_argument("--success-threshold", type=float, default=0.5)
    ap.add_argument("--dpo-margin", type=float, default=0.0)
    ap.add_argument("--prompt-group-mod", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_rollout")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark import rollouts

    t0 = time.time()
    t = spark.read.parquet(args.input)

    # 1) stuck-loop gate: per-conversation run stats, then drop stuck
    loop_stats = rollouts.loop_run_stats(
        t, template=rollouts.default_template("text"), stuck_at=args.stuck_at
    ).persist()
    loop_stats.write.mode("overwrite").parquet(
        os.path.join(args.output, "loop_stats")
    )

    # 2) trajectory fingerprints on surviving conversations (conv-keyed
    # join of two conv-keyed rollups; the gate side is 4 columns)
    # persisted: both the dedup stats and the scored table consume it; at
    # corpus scale recomputing it would be a second full pass over input
    fps = (
        rollouts.rollout_fingerprints(t)
        .join(loop_stats.filter(~F.col("stuck")).select("conv_id"), "conv_id")
        .persist()
    )

    if args.prompt_group_mod > 0:
        group = F.expr(
            "cast(cast(conv(substr(md5(first_text), 1, 8), 16, 10) as bigint)"
            f" % {args.prompt_group_mod} as int)"
        ).cast("string")
    else:
        group = F.md5("first_text")

    if args.reward_col:
        # trajectory reward = the conversation max of the named per-turn
        # column (one more conv-keyed partial aggregate)
        reward = (
            t.groupBy("conv_id")
            .agg(F.max(args.reward_col).cast("double").alias("reward"))
        )
        scored = fps.select(
            group.alias("prompt_group"), "conv_id", "completion_fp", "n_chars"
        ).join(reward, "conv_id")
        reward_source = f"column:{args.reward_col}"
    else:
        scored = fps.select(
            group.alias("prompt_group"),
            "conv_id",
            "completion_fp",
            "n_chars",
            F.expr(
                "cast(conv(substr(completion_fp, 1, 8), 16, 10) as double)"
                " / 4294967296.0"
            ).alias("reward"),
        )
        reward_source = "hash-uniform-standin"

    scored = scored.persist()

    # 3) shared-prompt dedup stats (group expr evaluates over the
    # fingerprint rollup's first_text)
    group_stats = rollouts.dedup_rollout_groups(fps, group=group)
    group_stats.write.mode("overwrite").parquet(
        os.path.join(args.output, "group_stats")
    )

    # 4) winners, advantages, pass@k
    plain = scored.select("prompt_group", "conv_id", "reward")
    rollouts.best_of_n(plain).write.mode("overwrite").parquet(
        os.path.join(args.output, "winners")
    )
    rollouts.grpo_advantages(plain).write.mode("overwrite").parquet(
        os.path.join(args.output, "advantages")
    )
    rollouts.preference_pairs(plain, margin=args.dpo_margin).write.mode(
        "overwrite"
    ).parquet(os.path.join(args.output, "preference_pairs"))
    rollouts.length_debiased_reward(
        scored.select("conv_id", "reward", "n_chars")
    ).write.mode("overwrite").parquet(os.path.join(args.output, "debiased"))
    pk = rollouts.pass_at_k(
        scored.select(
            "prompt_group",
            (F.col("reward") > args.success_threshold).cast("int").alias("success"),
        ),
        k=args.pass_k,
    )
    pk.write.mode("overwrite").parquet(os.path.join(args.output, "pass_at_k"))

    # 5) serving-time prefix-cache accounting + self-consistency vote
    # over the surviving (non-stuck) conversations. Both need turn text,
    # so this is deliberately a second pass over the input restricted by
    # the tiny surviving-conv_id side (storage-pruned at the scan) —
    # persisted, because the two writes are separate actions and the
    # restricted scan + join must not run twice at corpus scale.
    kept_t = t.join(
        loop_stats.filter(~F.col("stuck")).select("conv_id"), "conv_id"
    ).persist()
    rollouts.prefix_cache_savings(kept_t, group=group).write.mode(
        "overwrite"
    ).parquet(os.path.join(args.output, "prefix_cache"))
    answers = kept_t.groupBy("conv_id").agg(
        F.expr("min_by(text, turn_idx)").alias("first_text"),
        F.expr("max_by(trim(text), turn_idx)").alias("answer"),
    )
    rollouts.self_consistency(
        answers.select(group.alias("prompt_group"), "answer")
    ).write.mode("overwrite").parquet(os.path.join(args.output, "consensus"))
    kept_t.unpersist()

    # metrics without re-running the chain: loop_stats and scored are
    # persisted; everything else re-reads the written parquet
    gs = spark.read.parquet(os.path.join(args.output, "group_stats")).agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("n_rollouts").alias("kept"),
        F.sum("n_dropped").alias("dup_dropped"),
    ).first()
    pk_col = f"pass_at_{args.pass_k}"
    pk_mean = (
        spark.read.parquet(os.path.join(args.output, "pass_at_k"))
        .agg(F.avg(pk_col).alias("m"))
        .first()["m"]
    )
    stats = {
        "convs_in": loop_stats.count(),
        "convs_stuck": loop_stats.filter("stuck").count(),
        "rollouts_scored": int(gs["kept"] or 0),
        "prompt_groups": gs["groups"],
        "duplicate_completions": int(gs["dup_dropped"] or 0),
        f"mean_{pk_col}": None if pk_mean is None else round(pk_mean, 6),
        "prefix_chars_saved": int(
            spark.read.parquet(os.path.join(args.output, "prefix_cache"))
            .agg(F.sum("chars_saved"))
            .first()[0]
            or 0
        ),
        "mean_consensus_frac": round(
            spark.read.parquet(os.path.join(args.output, "consensus"))
            .agg(F.avg("consensus_frac"))
            .first()[0]
            or 0.0,
            6,
        ),
        "preference_pairs": spark.read.parquet(
            os.path.join(args.output, "preference_pairs")
        ).count(),
        "reward_source": reward_source,
        "wall_s": round(time.time() - t0, 1),
        "output": args.output,
    }
    loop_stats.unpersist()
    fps.unpersist()
    scored.unpersist()
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
