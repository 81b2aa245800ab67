#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north rule:
"launched via spark-submit --py-files on multi-executor clusters").

    spark-submit --master <cluster> --py-files ocr_spark.zip \
        jobs/extract_job.py --input /path/transcripts_parquet \
        --output /path/out

Runs the resumable snapshot pipeline (anti-join against committed
snapshots -> narrow vectorized extraction, each task writing its own
parquet file -> atomic snapshot commit whose manifest lists those files
and their totals) and then the two-phase ordered conversation rollup to
``<output>/conv_text``. Re-running after a kill resumes from the last
committed snapshot. Prints a one-line JSON summary on completion.

Package the py-files zip with:  python tools/make_pyfiles.py
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def linearize_tree_store(msgs, output: str):
    """Branching message store -> flat (conv_id, turn_idx) transcripts.

    Validates the closed-forest precondition FIRST (a store we don't
    control can carry duplicate ids, self/reciprocal parent cycles, or
    dangling parents from hard deletes — without the gate the doubling
    join would silently drop the chains hanging off them), quarantines
    flagged rows to ``<output>/forest_issues``, then runs pointer-doubling
    linearization (O(log depth) hash-join rounds) and joins the payload
    columns back on the 8-byte msg_id; the flat pipeline takes over.
    Cycles of length >= 3 still fail loudly inside the resolver rather
    than mislabeling. Shared-prefix duplication across sibling threads is
    inherent to linearization; downstream dedup/novelty ops price and
    mask it.

    Returns ``(transcripts, forest_issues, messages_unreached)``."""
    from pyspark.sql import functions as F

    from ocr_spark import rollouts

    issues_dir = os.path.join(output, "forest_issues")
    # materialized once: the count, the side-output write and the
    # quarantine anti-join reuse it instead of each re-running the
    # four-way validation over the full store
    issues = rollouts.validate_forest(msgs.select("msg_id", "parent_id")).localCheckpoint()
    forest_issues = issues.count()
    if forest_issues:
        issues.write.mode("overwrite").parquet(issues_dir)
        msgs = msgs.join(issues.select("msg_id").distinct(), "msg_id", "left_anti")
    else:
        # a clean store leaves no side output; one left by an earlier run
        # would read as the current quarantine state
        shutil.rmtree(issues_dir, ignore_errors=True)
    threads = rollouts.linearize_threads(msgs.select("msg_id", "parent_id"))
    msgs_unreached = None
    if forest_issues:
        # chains hanging under quarantined rows drop out of
        # linearization — report the loss instead of hiding it
        msgs_unreached = msgs.count() - threads.select("msg_id").distinct().count()
    transcripts = threads.join(msgs.drop("parent_id"), "msg_id").select(
        F.concat(F.lit("thread"), F.col("thread_id").cast("string")).alias("conv_id"),
        F.col("seq").cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
    )
    return transcripts, forest_issues, msgs_unreached


def turns_committed(committed, snap_root: str) -> int:
    """Rows in the committed table ``committed`` read from ``snap_root``:
    the sum of the visible snapshots' manifest totals, with no Spark job.
    Only when that sum would not be the count (a delete snapshot is
    visible, or a snapshot has no totals) is the table counted."""
    from ocr_spark.pipeline import committed_turns

    n = committed_turns(snap_root)
    return committed.count() if n is None else n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="output root (snapshots+rollup)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--tree-store", action="store_true",
                    help="input is a branching message store "
                         "(msg_id, parent_id, role, text, tool, ts — "
                         "fork/regeneration-capable chat stores persist "
                         "conversations as trees): resolve the forest and "
                         "linearize every root-to-leaf path into a "
                         "(conv_id, turn_idx) transcript before extraction "
                         "(conv_id = 'thread<leaf msg_id>', turn_idx = "
                         "root-first position)")
    ap.add_argument("--bucketed-output", type=int, default=0, metavar="N",
                    help="also publish extracted + conv_text as managed "
                         "tables bucketed by conv_id into N buckets "
                         "(bucketBy + sortBy via saveAsTable), so every "
                         "downstream conv_id join between them is "
                         "shuffle-free; pick N ~ total_size/256MB, same N "
                         "for every table joined on conv_id")
    ap.add_argument("--bucketed-prefix", default="ocr",
                    help="table-name prefix for --bucketed-output")
    args = ap.parse_args()

    # spark-submit's master and --conf win; the factory fills the rest
    from ocr_spark.session import build_session

    spark = build_session(app_name="ocr_spark_extract")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.operators.aggregate import conv_text_salted
    from ocr_spark.pipeline import read_metrics, run_resumable

    t0 = time.time()
    transcripts = spark.read.parquet(args.input)
    forest_issues = msgs_unreached = None
    if args.tree_store:
        transcripts, forest_issues, msgs_unreached = linearize_tree_store(
            transcripts, args.output
        )
    snap_root = os.path.join(args.output, "extracted")
    committed = run_resumable(spark, transcripts, snap_root, run_id=args.run_id)
    rollup_dir = os.path.join(args.output, "conv_text")
    rollup = conv_text_salted(committed)
    rollup.write.mode("overwrite").parquet(rollup_dir)

    bucketed_tables = []
    bucketed_join_exchanges = None
    if args.bucketed_output:
        from ocr_spark.operators.bucketing import bucketed_join, write_bucketed

        ext_table = f"{args.bucketed_prefix}_extracted"
        conv_table = f"{args.bucketed_prefix}_conv_text"
        write_bucketed(committed, ext_table, args.bucketed_output)
        write_bucketed(
            spark.read.parquet(rollup_dir),
            conv_table,
            args.bucketed_output,
            sort_cols=("conv_id",),
        )
        bucketed_tables = [ext_table, conv_table]
        # co-location proof, recorded in the job summary: count Exchange
        # nodes in the physical plan of the conv_id join between the two
        # tables with broadcast disabled (the shape the 100 TB join takes)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bucketed_join(spark, ext_table, conv_table)
            plan_str = joined._jdf.queryExecution().executedPlan().toString()
            bucketed_join_exchanges = plan_str.count("Exchange")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    metrics = read_metrics(spark, snap_root)
    conversations = spark.read.parquet(rollup_dir).count()
    summary = {
        "turns_committed": turns_committed(committed, snap_root),
        "conversations": conversations,
        "parse_failures": (
            metrics.groupBy().sum("parse_failures").collect()[0][0] if metrics else None
        ),
        "wall_s": round(time.time() - t0, 1),
        # every linearized thread becomes exactly one rollup conversation,
        # so no separate distinct-count job is spent on this number
        "linearized_threads": conversations if args.tree_store else None,
        "forest_issues": forest_issues,
        "messages_unreached": msgs_unreached,
        "output": args.output,
        "bucketed_tables": bucketed_tables,
        "bucketed_join_exchanges": bucketed_join_exchanges,
        # the SQL conf the run started with: spark-submit's --conf values
        # plus the session factory's defaults for the keys it left unset
        "sql_conf": {
            k: v for k, v in spark.sparkContext.getConf().getAll() if k.startswith("spark.sql.")
        },
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
