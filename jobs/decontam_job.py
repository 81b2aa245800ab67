#!/usr/bin/env python
"""spark-submit entry point for benchmark decontamination.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/decontam_job.py --train /path/documents_parquet \
        --eval /path/eval_parquet --output /path/out \
        [--ngram 3] [--min-jaccard 0.25]

Flags training documents that leak the held-out eval set by EITHER rule
a training pipeline runs before mixing, then writes the clean corpus:

- exact (GPT-3 appendix C / Gopher A.3): the doc shares any word n-gram
  with an eval doc — the eval set's distinct grams BROADCAST (an
  external benchmark is KBs-MBs at any corpus scale), so the training
  gram stream joins map-side and never shuffles;
- fuzzy (``ocr_spark.dedup.fuzzy_decontam_report``): the doc is a
  MinHash-band near-duplicate of an eval doc with exact-Jaccard >=
  --min-jaccard — catches paraphrased/templated leakage an n-gram width
  can miss, same broadcast-eval-keys / candidate-first-verify shape.

Writes ``<output>/clean`` (surviving corpus) and ``<output>/flagged``
(per-doc audit: which rule fired, hit counts, best eval Jaccard) and
prints a one-line JSON funnel. Composes only production functions the
oracle harness value-checks.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--train", required=True, help="training documents parquet dir")
    ap.add_argument("--eval", dest="eval_path", required=True,
                    help="held-out eval/benchmark parquet dir")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--ngram", type=int, default=3,
                    help="exact-rule gram width (production: 13)")
    ap.add_argument("--min-jaccard", type=float, default=0.25,
                    help="fuzzy-rule verify threshold")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_decontam")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.dedup import (
        exact_decontam_report,
        fuzzy_decontam_report,
        shingles,
    )

    t0 = time.time()
    train = spark.read.parquet(args.train).select("doc_id", "text")
    evalset = spark.read.parquet(args.eval_path).select("doc_id", "text")
    n_train = train.count()

    # exact rule: the SAME production function the oracle harness
    # value-checks (registry query `benchmark_decontam`) — the job
    # cannot drift from the verified semantics
    exact = exact_decontam_report(
        shingles(train, n=args.ngram), shingles(evalset, n=args.ngram)
    ).select(
        "doc_id", F.col("n_hits").alias("n_exact_hits")
    )

    # fuzzy rule: MinHash-band near-dup vs the eval set
    fuzzy = fuzzy_decontam_report(
        train, evalset, threshold=args.min_jaccard
    ).withColumnRenamed("contaminated", "fuzzy_contaminated")

    audit = (
        exact.join(fuzzy, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("n_exact_hits", F.lit(0).cast("bigint")).alias(
                "n_exact_hits"
            ),
            F.coalesce("n_eval_candidates", F.lit(0).cast("bigint")).alias(
                "n_eval_candidates"
            ),
            F.coalesce("max_eval_jaccard", F.lit(0.0)).alias("max_eval_jaccard"),
            (F.coalesce("n_exact_hits", F.lit(0)) > 0).alias("exact_contaminated"),
            F.coalesce("fuzzy_contaminated", F.lit(False)).alias(
                "fuzzy_contaminated"
            ),
        )
        .withColumn(
            "contaminated",
            F.col("exact_contaminated") | F.col("fuzzy_contaminated"),
        )
    )

    flagged_dir = os.path.join(args.output, "flagged")
    audit.filter("contaminated").write.mode("overwrite").parquet(flagged_dir)
    clean_dir = os.path.join(args.output, "clean")
    flagged_keys = spark.read.parquet(flagged_dir).select("doc_id")
    train.join(flagged_keys, "doc_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(clean_dir)

    flagged = spark.read.parquet(flagged_dir)
    n_exact = flagged.filter("exact_contaminated").count()
    n_fuzzy = flagged.filter("fuzzy_contaminated").count()
    n_flagged = flagged.count()
    n_clean = spark.read.parquet(clean_dir).count()
    print(
        json.dumps(
            {
                "docs_in": n_train,
                "eval_docs": evalset.count(),
                "exact_flagged": n_exact,
                "fuzzy_flagged": n_fuzzy,
                "flagged_total": n_flagged,
                "docs_kept": n_clean,
                "ngram": args.ngram,
                "min_jaccard": args.min_jaccard,
                "wall_s": round(time.time() - t0, 1),
                "output": clean_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
