#!/usr/bin/env python
"""spark-submit entry point for corpus near-duplicate deduplication.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/dedup_job.py --input /path/documents_parquet \
        --output /path/deduped [--min-jaccard 0.25]

Runs the full fuzzy-dedup chain over a (doc_id, text) corpus:
MinHash K=128 signatures -> 16x8 LSH band buckets -> exact-Jaccard
verification of the candidates -> connected components over the pair
graph -> one highest-quality representative kept per cluster. Writes
the deduped corpus plus the audit tables (verified pairs, cluster
assignments, representatives) and prints a one-line JSON funnel.

Every stage is the production ``ocr_spark.dedup`` function the oracle
harness value-checks; this job only composes them and adds the sinks.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet dir")
    ap.add_argument("--output", required=True, help="output root")
    ap.add_argument("--min-jaccard", type=float, default=0.25)
    ap.add_argument(
        "--cc",
        choices=("min-label", "two-phase"),
        default="min-label",
        help="component algorithm: min-label propagation (tiny-diameter "
        "dedup clusters) or large-star/small-star two-phase (O(log^2 n) "
        "rounds for chained/high-diameter duplicate families)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_dedup")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.dedup import near_dedup
    from ocr_spark.functions import quality_score

    t0 = time.time()
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    n_docs = docs.count()
    scores = docs.select("doc_id", quality_score("text").alias("quality"))
    kept, clusters, pairs = near_dedup(
        docs, scores, min_jaccard=args.min_jaccard, cc=args.cc
    )

    # audit trail first (tiny, pair-graph-sized), corpus last
    pairs.write.mode("overwrite").parquet(os.path.join(args.output, "pairs"))
    clusters.write.mode("overwrite").parquet(
        os.path.join(args.output, "clusters")
    )
    out_dir = os.path.join(args.output, "deduped")
    kept.write.mode("overwrite").parquet(out_dir)

    n_kept = spark.read.parquet(out_dir).count()
    n_clustered = spark.read.parquet(
        os.path.join(args.output, "clusters")
    ).count()
    n_clusters = (
        spark.read.parquet(os.path.join(args.output, "clusters"))
        .agg(F.countDistinct("cluster_id"))
        .collect()[0][0]
    )
    print(
        json.dumps(
            {
                "docs_in": n_docs,
                "docs_kept": n_kept,
                "docs_dropped": n_docs - n_kept,
                "docs_in_clusters": n_clustered,
                "n_clusters": n_clusters,
                "min_jaccard": args.min_jaccard,
                "wall_s": round(time.time() - t0, 1),
                "output": out_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
