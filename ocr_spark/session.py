"""SparkSession factory with scale-oriented defaults.

The confs below are the ones that matter at 100 TB, set identically for
local testing so the plans we inspect locally are the plans we'd ship:

- AQE on (runtime partition coalescing + skew-join splitting) — the
  reference has no skew handling at all (SURVEY §2.4 P5). The extraction
  stage never shuffles by conversation, so long agent traces skew only
  the rollup's one shuffle (BENCH/SKEW.md measures it).
- Arrow enabled and batch-size bounded so pandas UDF memory stays flat
  regardless of input partition size.
- shuffle partitions sized for the local core count; on a real cluster
  this is set to ~2-3x total cores (AQE coalesces the excess).
- ``max_partition_bytes``: bytes-on-disk is a poor proxy for task cost
  when the stage runs a python-CPU-bound UDF over compressed text — at
  the default 128 MB a few hundred MB of snappy parquet becomes a
  handful of scan tasks and the extraction stage starves the cluster.
  Extraction jobs set this ~10-50x smaller (scaled so one split is a
  few seconds of UDF work); pure-relational scans keep the default.

This is the one place the package builds a session; jobs, bench and
tests all call ``build_session``. Launched by ``spark-submit``, it keeps
everything spark-submit set (``--master``, ``--conf``, ``--name``,
``--driver-memory``, spark-defaults) and only fills the keys left unset;
it never sets the master or the driver memory there. Launched as plain
Python, it builds the local session with exactly the confs below.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def build_session(
    app_name: str = "ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    if max_partition_bytes is None:
        max_partition_bytes = int(
            os.environ.get("OCR_SPARK_MAX_PARTITION_BYTES", str(128 * 1024 * 1024))
        )
    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 16k-row batches: ~12% fewer python<->JVM roundtrips on the
        # extraction workload vs 4096, still only ~10-20 MB per in-flight
        # batch per worker (bounds python memory at any partition size)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
        "spark.sql.files.maxPartitionBytes": str(max_partition_bytes),
        "spark.sql.files.openCostInBytes": str(max(max_partition_bytes // 8, 262144)),
        "spark.python.worker.reuse": "true",
        # zstd: measured same write wall-time as snappy/lz4 on this
        # workload but ~30% smaller files (nested extraction snapshot:
        # 20 vs 29 MB at sf0.1) — at 100 TB that is a third less storage
        # and scan IO for every downstream read of the snapshot table
        "spark.sql.parquet.compression.codec": "zstd",
        # the K=128 MinHash (129-col agg) and 64-bit SimHash (66-col agg)
        # exceed the default 100-field whole-stage-codegen cutoff, which
        # silently drops their hot HashAggregate to interpreted mode
        "spark.sql.codegen.maxFields": "256",
        "spark.ui.enabled": "false",
        # 16g, deliberately NOT bigger: with a huge single-JVM heap G1
        # defers collection through the extraction+write stage, and the
        # NEXT stage's aggregation then runs against tens of GB of
        # uncollected garbage (measured: the post-write rollup at
        # local[32] is 12s with 48g vs 2-4s with 12-16g; whole job 81k ->
        # 188k turns/s). Real clusters run one modest heap per executor
        # process, so the small heap is also the representative shape.
        "spark.driver.memory": os.environ.get("OCR_SPARK_DRIVER_MEM", "16g"),
        **(extra_conf or {}),
    }
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started this driver's JVM and handed us its port:
        # its master and heap are fixed, and what it was given outranks
        # every default here
        conf.pop("spark.master")
        conf.pop("spark.driver.memory")
        # connect to that JVM first: only then does SparkConf() load the
        # --conf/--master values spark-submit passed it
        SparkContext._ensure_initialized()
        submitted = SparkConf()
        for key, value in conf.items():
            submitted.setIfMissing(key, value)
        return SparkSession.builder.config(conf=submitted).getOrCreate()
    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

