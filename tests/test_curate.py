"""Curation pipeline: funnel correctness, one-action observation, and
the end-to-end spark-submit job."""

from __future__ import annotations

import json
import os
import subprocess

import pytest
from pyspark.sql import functions as F

from ocr_spark import fixtures
from ocr_spark.curate import curate, funnel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus(spark):
    rows = [
        (f"d{i}", text)
        for i, text in enumerate(
            [
                "the quick brown fox jumps over a lazy dog near the river bank",
                "the quick brown fox jumps over a lazy dog near the river bank",  # exact dup
                "short",  # fails min_tokens
                "a plan the table a stream the filter a window the batch merge",
                "!!! ??? ,,, ;;; ... !!! ??? ,,, ;;; ...",  # punctuation-heavy -> low quality
                "data table scan the filter a join the group a sort the window",
            ]
        )
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_curate_funnel_and_split(spark, tmp_path):
    curated, obs = curate(_corpus(spark), min_quality=0.1, min_tokens=5)
    out = str(tmp_path / "curated")
    curated.write.partitionBy("split").parquet(out)  # the ONE action

    counts = funnel(obs)
    assert counts["input"] == 6
    assert counts["gated"] == 4  # "short" and the punctuation doc drop
    assert counts["deduped"] == 3  # exact dup collapsed, keep-first

    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {"d0", "d3", "d5"}  # d1 deduped away (d0 kept)
    assert all(r["split"] in ("train", "val", "test") for r in rows.values())
    # split is content-keyed: recomputing yields identical assignment
    again, _ = curate(_corpus(spark), min_quality=0.1, min_tokens=5)
    assert {
        (r["doc_id"], r["split"]) for r in again.collect()
    } == {(d, r["split"]) for d, r in rows.items()}


@pytest.mark.slow
def test_curate_job_spark_submit(spark, tmp_path):
    from tools.make_pyfiles import build

    input_dir = str(tmp_path / "transcripts")
    fixtures.transcripts_df(spark, 10).write.parquet(input_dir)
    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_dir = str(tmp_path / "out")

    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "curate_job.py"),
        "--input", input_dir,
        "--output", out_dir,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp_path, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["funnel"]["input"] == 10  # one corpus doc per conversation
    assert summary["funnel"]["deduped"] == sum(summary["by_split"].values())
    assert spark.read.parquet(os.path.join(out_dir, "curated")).count() == (
        summary["funnel"]["deduped"]
    )
