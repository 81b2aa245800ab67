#!/usr/bin/env python
"""spark-submit entry point for snapshot-store table maintenance.

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/maintenance_job.py --store /path/extracted_store \
        [--changelog /path/changelog] [--compact-min-snapshots 2] \
        [--keep-last 1] [--max-age-s N]

The periodic housekeeping pass a 10^12-turn extraction table needs
(Iceberg's maintenance procedures, composed): snapshot inventory ->
CDC changelog between the oldest live version and the head (written
BEFORE compaction collapses history) -> small-file compaction when the
snapshot count crosses the threshold -> count/age retention -> vacuum
of uncommitted leftovers. Prints a one-line JSON summary reconciling
before/after state.

Every stage is the production ``ocr_spark.pipeline`` function that
``tests/test_pipeline.py`` crash-tests; this job only composes them.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="snapshot store root")
    ap.add_argument(
        "--changelog", default=None,
        help="optional parquet dir for the oldest->head CDC diff",
    )
    ap.add_argument("--compact-min-snapshots", type=int, default=2)
    ap.add_argument("--keep-last", type=int, default=1)
    ap.add_argument("--max-age-s", type=float, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_maintenance")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.pipeline import (
        compact_snapshots,
        diff_snapshots,
        expire_snapshots,
        snapshots_df,
        vacuum_uncommitted,
    )

    t0 = time.time()
    inv = snapshots_df(spark, args.store)
    before = inv.agg(
        F.count("*").alias("snapshots"),
        F.coalesce(F.sum("n_files"), F.lit(0)).alias("files"),
        F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("bytes"),
        F.coalesce(F.min("idx"), F.lit(-1)).alias("oldest"),
        F.coalesce(F.max("idx"), F.lit(-1)).alias("head"),
    ).collect()[0]

    # changelog FIRST: compaction tombstones the history it reads
    changelog_rows = 0
    if args.changelog and before.snapshots >= 2:
        diff = diff_snapshots(spark, args.store, before.oldest, before.head)
        if diff is not None:
            diff.write.mode("overwrite").parquet(args.changelog)
            changelog_rows = spark.read.parquet(args.changelog).count()

    compacted = 0
    if before.snapshots >= args.compact_min_snapshots:
        compacted = compact_snapshots(spark, args.store)

    expired = expire_snapshots(
        args.store, keep_last=args.keep_last, max_age_s=args.max_age_s
    )
    vacuumed = vacuum_uncommitted(args.store)

    after_inv = snapshots_df(spark, args.store)
    after = after_inv.agg(
        F.count("*").alias("snapshots"),
        F.coalesce(F.sum("n_files"), F.lit(0)).alias("files"),
        F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("bytes"),
    ).collect()[0]

    summary = {
        "snapshots_before": int(before.snapshots),
        "files_before": int(before.files),
        "bytes_before": int(before.bytes),
        "changelog_rows": int(changelog_rows),
        "compacted": int(compacted),
        "expired": len(expired),
        "vacuumed": len(vacuumed),
        "snapshots_after": int(after.snapshots),
        "files_after": int(after.files),
        "bytes_after": int(after.bytes),
        "wall_s": round(time.time() - t0, 2),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
