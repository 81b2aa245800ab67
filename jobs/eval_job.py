#!/usr/bin/env python
"""spark-submit entry point for evaluation / label aggregation.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/eval_job.py --output /path/eval_out \
        [--labels /path/labels_parquet] [--battles /path/battles_parquet] \
        [--ds-rounds 3] [--bt-rounds 8]

Runs the judge/arena reductions a transcript-curation pipeline applies
after rollouts are scored. At least one input is required:

- ``--labels``  — ``(item_id, judge_id, label)`` one row per verdict:
  writes consensus/ (majority vote + agreement), kappa/ (Cohen's kappa
  per judge pair), alpha/ (Krippendorff's alpha, one row), ds_labels/
  (Dawid-Skene EM MAP labels), confusion/ (per-judge confusion vs
  consensus).
- ``--battles`` — ``(model_a, model_b, winner)`` one pairwise
  comparison per row: writes win_matrix/ (canonical pair win rates) and
  bt_strengths/ (Bradley-Terry strengths via Hunter's MM).

Prints ONE JSON metrics line whose numbers reconcile against the
written tables. Scale shape (see ocr_spark/evaluation.py docstrings):
everything heavy is item-keyed; judge- and model-level state is tiny
and moves through broadcasts or driver-side round state.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--labels", default=None, help="labels parquet dir")
    ap.add_argument("--battles", default=None, help="battles parquet dir")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--ds-rounds", type=int, default=None)
    ap.add_argument("--bt-rounds", type=int, default=None)
    args = ap.parse_args()
    if not args.labels and not args.battles:
        ap.error("at least one of --labels / --battles is required")

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_eval")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark import evaluation

    t0 = time.time()
    stats: dict = {"output": args.output}

    if args.labels:
        labels = spark.read.parquet(args.labels).select(
            "item_id", "judge_id", "label"
        )
        consensus = evaluation.majority_vote(labels).persist()
        consensus.write.mode("overwrite").parquet(
            os.path.join(args.output, "consensus")
        )
        evaluation.cohen_kappa_pairs(labels).write.mode("overwrite").parquet(
            os.path.join(args.output, "kappa")
        )
        evaluation.krippendorff_alpha(labels).write.mode("overwrite").parquet(
            os.path.join(args.output, "alpha")
        )
        evaluation.dawid_skene(labels, rounds=args.ds_rounds).write.mode(
            "overwrite"
        ).parquet(os.path.join(args.output, "ds_labels"))
        evaluation.consensus_confusion(labels).write.mode("overwrite").parquet(
            os.path.join(args.output, "confusion")
        )
        agg = consensus.agg(
            F.count(F.lit(1)).alias("items"),
            F.avg("agreement").alias("mean_agreement"),
            F.avg(F.col("unanimous").cast("double")).alias("unanimous_rate"),
        ).first()
        alpha_row = spark.read.parquet(os.path.join(args.output, "alpha")).first()
        kap = spark.read.parquet(os.path.join(args.output, "kappa")).agg(
            F.count(F.lit(1)).alias("pairs"), F.avg("kappa").alias("mean_kappa")
        ).first()
        # DS vs majority disagreement rate: where EM overrode the vote
        ds = spark.read.parquet(os.path.join(args.output, "ds_labels"))
        flipped = (
            ds.join(consensus, "item_id")
            .filter(F.col("map_label") != F.col("vote_label"))
            .count()
        )
        stats.update(
            items=agg["items"],
            judges=labels.select("judge_id").distinct().count(),
            mean_agreement=round(agg["mean_agreement"], 6),
            unanimous_rate=round(agg["unanimous_rate"], 6),
            judge_pairs=kap["pairs"],
            mean_kappa=round(kap["mean_kappa"], 6),
            krippendorff_alpha=alpha_row["alpha"],
            ds_flipped_votes=flipped,
        )
        consensus.unpersist()

    if args.battles:
        battles = spark.read.parquet(args.battles).select(
            "model_a", "model_b", "winner"
        )
        evaluation.pairwise_winrate(battles).write.mode("overwrite").parquet(
            os.path.join(args.output, "win_matrix")
        )
        bt = evaluation.bradley_terry(battles, rounds=args.bt_rounds)
        bt.write.mode("overwrite").parquet(
            os.path.join(args.output, "bt_strengths")
        )
        bt_read = spark.read.parquet(os.path.join(args.output, "bt_strengths"))
        top = bt_read.orderBy("rank").first()
        stats.update(
            battles=bt_read.first()["n_battles_total"],
            models=bt_read.count(),
            top_model=top["model"],
            top_strength=top["strength"],
        )

    stats["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
