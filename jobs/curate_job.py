#!/usr/bin/env python
"""spark-submit entry point for the corpus-curation pipeline.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/curate_job.py --input /path/transcripts_parquet \
        --output /path/curated

Runs extraction (resumable snapshot store) -> ordered conversation
rollup -> curation (quality/language gates, exact dedup keep-first,
content-keyed train/val/test split) and writes the curated corpus
partitioned by split. The per-stage funnel is computed by Observation
nodes inside the single output plan (no extra counting passes) and
printed as one JSON line.
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
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--min-quality", type=float, default=0.1)
    ap.add_argument("--min-tokens", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_curate")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.curate import curate, funnel
    from ocr_spark.operators.aggregate import conv_text_salted
    from ocr_spark.pipeline import run_resumable

    t0 = time.time()
    transcripts = spark.read.parquet(args.input)
    committed = run_resumable(
        spark, transcripts, os.path.join(args.output, "extracted")
    )
    corpus = conv_text_salted(committed).select(
        F.col("conv_id").alias("doc_id"), F.col("full_text").alias("text")
    )
    curated, obs = curate(
        corpus, min_quality=args.min_quality, min_tokens=args.min_tokens
    )
    out_dir = os.path.join(args.output, "curated")
    curated.write.mode("overwrite").partitionBy("split").parquet(out_dir)

    counts = funnel(obs)
    by_split = {
        r["split"]: r["n"]
        for r in spark.read.parquet(out_dir)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(
        json.dumps(
            {
                "funnel": counts,
                "by_split": by_split,
                "wall_s": round(time.time() - t0, 1),
                "output": out_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
