"""One session factory: ``ocr_spark.session.build_session`` is the only
code that builds a SparkSession, so jobs, bench and tests run the same
conf (spark-submit precedence is checked in tests/test_submit_job.py)."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources():
    yield os.path.join(REPO, "bench.py")
    for top in ("ocr_spark", "jobs", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def test_only_the_factory_builds_a_session():
    factory = os.path.join(REPO, "ocr_spark", "session.py")
    offenders = [
        os.path.relpath(path, REPO)
        for path in _sources()
        if path != factory and re.search(r"SparkSession\s*\.\s*builder", open(path).read())
    ]
    assert offenders == []


def test_plain_launch_gets_the_factory_conf(spark):
    conf = spark.conf
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "16384"
    assert conf.get("spark.sql.parquet.compression.codec") == "zstd"
    assert conf.get("spark.sql.codegen.maxFields") == "256"
    assert conf.get("spark.sql.shuffle.partitions") == "8"
