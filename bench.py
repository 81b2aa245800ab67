#!/usr/bin/env python
"""Benchmark harness for the ocr_spark engine.

Default mode (what the driver runs):
    python bench.py
Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: ``{"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}``.

Scaling-evidence mode (north rule: throughput scaling efficiency >=0.8
from N to 4N parallelism, evidenced here by the same job on the same
input at N and 4N local cores since no real cluster exists in this
sandbox; default levels 2,8,32 via $SPARK_GRAFT_SCALING_LEVELS):
    python bench.py --scaling
Generates one shared parquet input, spawns one subprocess per
parallelism level (fresh JVM each — a SparkContext's master is fixed),
each running the identical extraction job (``--extract-only``), then
writes throughput + efficiency + the VM's raw-CPU scaling ceiling to
``BENCH/BASELINE.md``.

Other modes: ``--extract-only`` / ``--minhash-only`` (the two scaling
probes, one JVM each) and ``--skew-stress`` (the long-agent-trace
archetype: byte-identical payloads with and without an 80%-monster
conversation; writes BENCH/SKEW.md). BENCH/EXTRACT_AB.md keeps the last
A/B of the extraction shapes that were removed in favour of ``extract``.

The timed job is the narrow-extract regression guard, not the flagship
job (``perfbench/run.py`` times that: the same narrow extraction behind
the resume anti-join, plus the snapshot commit, through
``pipeline.run_resumable``). Here: parquet scan -> narrow ``extract``
(the ``mapInArrow`` worker loop; no repartition) -> plain parquet write
(no resume or commit) -> scan it -> two-phase ordered conversation
rollup and partition metrics. Dedupe-before-UDF (A6 memoization,
``extract_deduped``) is off here as in production: it pays when the UDF
is expensive (real OCR inference) and the duplicate rate is high; with
a cheap parser and ~2-3% dups the extra shuffle dominates. Results are forced with the
``noop`` sink (not ``count()``) so Catalyst cannot prune work away.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

RELATIONAL_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q6",
    "a3_ordered_concat",
    "t5_cleanup_normalize",
    "token_count",
    "lang_id_heuristic",
    "quality_score",
    "minhash_signature",
    "sessionize",
    "cosine_topk",
    # round 2: corpus-hygiene battery representatives
    "simhash_fingerprint",
    "chunk_dedup_keep_first",
    "bigram_lm_score",
    # round 5: RL-rollout reduction representative (fingerprint rollup ->
    # group dedup — the shape every rollout reduction shares)
    "prompt_rollout_dedup",
]

# Bench working set (fixture input, snapshots, shuffle dirs) lives on
# tmpfs when available: this sandbox has ONE virtual disk shared by all
# local[N] levels, so ext4 writeback would serialize the IO portion and
# corrupt the compute-scaling signal; a real cluster brings one set of
# disks per executor node. Override with SPARK_GRAFT_BENCH_TMP.
_TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
BENCH_TMP = os.environ.get(
    "SPARK_GRAFT_BENCH_TMP", os.path.join(_TMP_BASE, "ocr_spark_bench")
)


HISTORY_JSON = os.path.join(REPO, "BENCH", "history.json")
HISTORY_MD = os.path.join(REPO, "BENCH", "HISTORY.md")


def _history_key(cpus: int, sf: float) -> str:
    """Best-known times compare only within one host shape and scale."""
    return f"cpus={cpus},sf={sf}"


def _apply_history(result: dict) -> None:
    """Best-known-time tracking: single-invocation totals on this shared
    host swing ±15-27% on unchanged, plan-pinned code (BENCH_r03 vs r04),
    so per-round deltas are un-adjudicable. The durable signal is the
    best time EVER recorded per query on the same ``(cpus, sf)`` key: the
    code can only have gotten faster if a fresh min beats it, and a real
    regression shows up as a fresh min exceeding best-known by >1.5x
    across TWO consecutive invocations (one exceedance is a noise window
    by observation). A run on a new host shape starts its own records
    rather than being judged against another shape's. Adds
    ``vs_best_known`` per query (fresh/best ratio) and a ``regressions``
    list to the emitted JSON, updates ``BENCH/history.json``, and
    re-renders ``BENCH/HISTORY.md``."""
    try:
        with open(HISTORY_JSON) as fh:
            hist = json.load(fh)
    except (OSError, ValueError):
        hist = {}
    shape = hist.setdefault(_history_key(result["cpus"], result["sf"]), {})
    stamp = time.strftime("%Y-%m-%d")
    vs_best: dict[str, float] = {}
    regressions: list[str] = []
    for name, sec in result["queries"].items():
        rec = shape.get(name)
        if rec is None:
            shape[name] = {"best_sec": sec, "set_in": stamp, "consec_over": 0}
            vs_best[name] = 1.0
            continue
        ratio = sec / rec["best_sec"] if rec["best_sec"] > 0 else 1.0
        vs_best[name] = round(ratio, 2)
        if sec < rec["best_sec"]:
            rec.update(best_sec=sec, set_in=stamp)
        rec["consec_over"] = rec.get("consec_over", 0) + 1 if ratio > 1.5 else 0
        if rec["consec_over"] >= 2:
            regressions.append(name)
    tps = result.get("extract_turns_per_sec")
    if tps:
        cur = shape.get("_extract_turns_per_sec")
        if cur is None or tps > cur["best"]:
            shape["_extract_turns_per_sec"] = {"best": tps, "set_in": stamp}
    result["vs_best_known"] = vs_best
    result["regressions"] = sorted(regressions)
    try:
        os.makedirs(os.path.dirname(HISTORY_JSON), exist_ok=True)
        with open(HISTORY_JSON, "w") as fh:
            json.dump(hist, fh, indent=1, sort_keys=True)
        _render_history(hist)
    except OSError:
        pass  # history is advisory; never fail the bench over it


def _render_history(hist: dict) -> None:
    """Write ``BENCH/HISTORY.md``: one best-known table per host shape."""
    with open(HISTORY_MD, "w") as fh:
        fh.write(
            "# Best-known bench times, per host shape\n\n"
            "Regenerated by every `python bench.py` run. Records are kept\n"
            "per `(cpus, sf)` key and a run is compared only with its own\n"
            "key's. `vs_best_known` in each BENCH_rN.json is fresh-min /\n"
            "best-known; a regression is flagged only when a fresh min\n"
            "exceeds best-known by >1.5x in two consecutive invocations\n"
            "(single exceedances are host-noise windows; identical code\n"
            "has measured 2 s in one window and 15 s in another).\n"
        )
        for key in sorted(hist):
            shape = hist[key]
            fh.write(
                f"\n## {key}\n\n"
                "| query | best sec | set in | consecutive >1.5x misses |\n"
                "| --- | --- | --- | --- |\n"
            )
            for name in sorted(k for k in shape if not k.startswith("_")):
                rec = shape[name]
                fh.write(
                    f"| {name} | {rec['best_sec']} | {rec['set_in']} | "
                    f"{rec.get('consec_over', 0)} |\n"
                )
            e = shape.get("_extract_turns_per_sec")
            if e:
                fh.write(
                    f"\nBest extraction throughput: **{e['best']} turns/sec** "
                    f"(set in {e['set_in']}).\n"
                )
        # durable adjudication notes survive every regeneration
        notes = os.path.join(REPO, "BENCH", "NOTES.md")
        if os.path.exists(notes):
            with open(notes) as nf:
                fh.write("\n" + nf.read())


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _force(df) -> None:
    """Fully materialize a DataFrame without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _build(cpus: int):
    from ocr_spark.session import build_session

    # 4 MB scan splits: the extraction stage is python-CPU-bound, so a
    # split must be sized by UDF seconds, not IO bytes (session.py note).
    spark = build_session(
        app_name=f"bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 16),
        max_partition_bytes=4 * 1024 * 1024,
        extra_conf={"spark.local.dir": os.path.join(BENCH_TMP, "spark-local")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ensure_input(spark, n_convs: int) -> str:
    """Materialize the deterministic fixture transcripts as parquet once.

    Both scaling levels read the same committed bytes, exactly like a
    cluster job reading an Iceberg/parquet table — generation cost is
    not part of the measured window.
    """
    from ocr_spark import fixtures

    path = os.path.join(BENCH_TMP, f"transcripts_{n_convs}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        t = fixtures.transcripts_df(spark, n_convs, partitions=128)
        t.write.mode("overwrite").parquet(path)
    return path


def _extraction_runner(spark, input_path: str, cpus: int):
    """Build the narrow-extract regression guard's run closure; returns
    (one_run, snap).

    Timing policy is best-of-N full runs — the steady-state shape of the
    target workload (a long-running cluster job runs this DAG thousands
    of times; the first run's one-time costs — python worker spin-up,
    whole-stage codegen compile of each distinct plan, JIT — are
    amortized to zero). The first run IS a complete warmup: every
    measured plan, on the full input, byte-for-byte.
    """
    from ocr_spark.operators.aggregate import conv_text_salted, partition_metrics
    from ocr_spark.operators.extract import extract

    snap = os.path.join(BENCH_TMP, f"snapshot_{cpus}")

    def one_run() -> float:
        from concurrent.futures import ThreadPoolExecutor

        shutil.rmtree(snap, ignore_errors=True)
        t0 = time.perf_counter()
        t = spark.read.parquet(input_path)
        # Extraction is a NARROW map: maxPartitionBytes-bounded scan splits
        # already balance per-task work, so conversation-length skew never
        # skews this stage and a pre-extraction repartition would shuffle
        # the raw payloads for nothing (measured ~2x total wall locally).
        # Skew is handled where keys matter: the two-phase bucket-salted
        # rollup.
        extracted = extract(t)
        extracted.write.mode("overwrite").parquet(snap)
        committed = spark.read.parquet(snap)
        # rollup and metrics are independent reads of the committed
        # snapshot: submit both actions concurrently so the scheduler
        # interleaves their stages (neither alone saturates the cluster
        # in its final reduce stages; measured ~0.5 s saved at local[32])
        with ThreadPoolExecutor(2) as ex:
            f1 = ex.submit(lambda: _force(conv_text_salted(committed)))
            f2 = ex.submit(
                lambda: _force(partition_metrics(committed, run_id="bench"))
            )
            f1.result()
            f2.result()
        return time.perf_counter() - t0

    return one_run, snap


def _extraction_job(spark, input_path: str, cpus: int) -> tuple[int, float]:
    """Consecutive best-of-5 extraction measurement (scaling mode and
    --extract-only; run_bench uses the time-spread variant below).

    min-of-5: this sandbox's shared host has noise windows where ANY
    phase (extract, write, rollup) intermittently runs 3-10x slow for
    minutes at a time (verified against fixed code: the same probe
    alternates 2s and 15s extracts across windows). Five runs give
    ~2.5x better odds that at least one lands clean than three.
    """
    one_run, snap = _extraction_runner(spark, input_path, cpus)
    secs = min(one_run() for _ in range(5))
    turns = spark.read.parquet(snap).count()
    shutil.rmtree(snap, ignore_errors=True)
    return turns, secs


def run_bench() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)
    spark = _build(cpus)

    import ocr_spark.queries as Q

    timings: dict[str, float] = {}

    n_convs = max(40, int(sf * 40000))
    input_path = _ensure_input(spark, n_convs)

    # Noise windows on this shared host last MINUTES, so consecutive
    # best-of-N can land entirely inside one slow window and report a
    # 3-10x pessimistic number for fixed code (observed: the identical
    # extract job measuring 3.4 s in one bench invocation and 17 s
    # min-of-5 in another). Spread the attempts ACROSS the whole bench —
    # extract runs bracket the two relational sweeps — so the set of
    # attempts spans several minutes and the min has a fair shot at a
    # clean window for every entry.
    one_run, snap = _extraction_runner(spark, input_path, cpus)
    extract_times = [one_run(), one_run()]

    def sweep(reps: int) -> None:
        for name in RELATIONAL_QUERIES:
            fn = getattr(Q, f"q_{name}")
            for _ in range(reps):
                t0 = time.perf_counter()
                _force(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                if name not in timings or dt < timings[name]:
                    timings[name] = dt

    sweep(2)
    extract_times.append(one_run())
    sweep(1)
    extract_times += [one_run(), one_run()]

    secs = min(extract_times)
    turns = spark.read.parquet(snap).count()
    shutil.rmtree(snap, ignore_errors=True)
    timings.update({k: round(v, 3) for k, v in timings.items()})
    timings["extract_pipeline"] = round(secs, 3)
    turns_per_sec = turns / secs if secs > 0 else 0.0

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "extract_turns": turns,
        "extract_turns_per_sec": round(turns_per_sec, 1),
    }
    _apply_history(result)
    spark.stop()
    return result


def run_extract_only() -> dict:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "24000"))
    spark = _build(cpus)
    input_path = _ensure_input(spark, n_convs)
    turns, secs = _extraction_job(spark, input_path, cpus)
    spark.stop()
    return {
        "cpus": cpus,
        "n_convs": n_convs,
        "turns": turns,
        "sec": round(secs, 3),
        "turns_per_sec": round(turns / secs, 1),
    }


def run_minhash_only() -> dict:
    """Shuffle-path scaling probe: the production MinHash signature job
    (scan -> tokenize -> shingle -> one md5/shingle -> 128
    partial-aggregated min() columns -> ONE Exchange -> wide
    (doc_id, m0..m127) signature rows) at SPARK_GRAFT_CPUS, best-of-5.

    The extraction job evidences the narrow-map path; this evidences
    that a SHUFFLE-carrying aggregation scales too — the two shapes
    that together make up every query in the engine.

    Probed shape notes (each one measured, not guessed — event-log
    stage diagnosis in tools/minhash_stage_diag.py):
    - The WIDE signature table is what a production dedup pipeline
      materializes; the registered correctness query's posexplode to
      (doc_id, j, minh) exists only so the DuckDB driver compare gets
      a scalar schema. Exploding 128x rows through Generate is
      memory-bandwidth-bound row materialization (measured: its CPU
      time per row TRIPLES at 8 concurrent threads) and is not part
      of the job a user ships.
    - The input is written as 256 equal row-chunks and scanned
      file-per-task: 256 % {2,8,32} == 0, so no parallelism level
      loses a partial wave to task-count rounding (21 uneven tasks
      cost the 8-core run ~12% in the earlier probe).
    - AQE partition coalescing is off for THIS probe only: at web
      scale partition counts dwarf cores and coalesce rounding is
      noise, but in a 2-vs-8-core microbench coalescing to 6-vs-11
      tasks IS the noise. Shuffle partitions stay at the session
      default (divisible by both core counts).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rep = int(os.environ.get("SPARK_GRAFT_MINHASH_REPLICATE", "128"))

    from ocr_spark.session import build_session

    spark = build_session(
        app_name=f"bench-minhash-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 16),
        # one scan task per input file (files are ~100 KB)
        max_partition_bytes=64 * 1024,
        extra_conf={
            "spark.local.dir": os.path.join(BENCH_TMP, "spark-local"),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import ocr_spark.queries as Q
    from pyspark.sql import functions as F

    # The sf0.1 documents table is ~2 s of minhash work — too little to
    # measure scaling (fixed job/stage overhead would dominate the
    # ratio). Replicate it rep x with distinct doc_ids into ONE shared
    # committed parquet that every parallelism level reads, exactly like
    # the extraction probe's input policy.
    base_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    want = base_docs * rep
    big = os.path.join(BENCH_TMP, f"minhash_docs_{rep}")
    marker = os.path.join(big, "_ROWCOUNT")
    have = -1
    if os.path.exists(marker):
        with open(marker) as fh:
            have = int(fh.read().strip() or -1)
    if have != want:
        shutil.rmtree(big, ignore_errors=True)
        doc = spark.read.parquet(f"{sf_dir}/documents.parquet")
        doc.select(
            F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("rep"), "*"
        ).withColumn(
            "doc_id", F.col("doc_id") * rep + F.col("rep")
        ).drop("rep").repartition(256).write.mode("overwrite").parquet(
            os.path.join(big, "documents.parquet")
        )
        wrote = spark.read.parquet(os.path.join(big, "documents.parquet")).count()
        assert wrote == want, f"replication wrote {wrote}, expected {want}"
        with open(marker, "w") as fh:
            fh.write(str(wrote))

    df = Q._minhash_wide(spark, big)
    secs = None
    for _ in range(3):
        t0 = time.perf_counter()
        _force(df)
        dt = time.perf_counter() - t0
        if secs is None or dt < secs:
            secs = dt
    rows = df.count()
    spark.stop()
    return {
        "cpus": cpus,
        "rows": rows,
        "sec": round(secs, 3),
        "rows_per_sec": round(rows / secs, 1),
    }


def _burn(n):
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (2 ** 31)
    return x


def _hw_ceiling(levels) -> dict[int, float]:
    """Raw-CPU scaling ceiling of this sandbox VM, measured with a pure
    arithmetic burn (no memory traffic) under multiprocessing.

    A single local[N] box is NOT N independent executors: beyond the
    physical core count, SMT siblings and frequency scaling cap the
    attainable speedup for *any* job. On a real cluster, 4N executors
    means 4x machines and this ceiling does not exist. We report the
    ceiling next to the measured job efficiency so the two are not
    conflated.
    """
    import multiprocessing as mp
    import time as _time

    # Each level runs `procs` identical work units, so with perfect
    # scaling wall time is constant across levels and the ceiling
    # efficiency from the lowest level to level c is wall(lo)/wall(c).
    wall = {}
    for procs in sorted(set(levels)):
        with mp.get_context("fork").Pool(procs) as p:
            t0 = _time.perf_counter()
            p.map(_burn, [4_000_000] * procs)
            wall[procs] = _time.perf_counter() - t0
    lo = min(wall)
    return {c: wall[lo] / wall[c] for c in wall}


def run_scaling(levels=None) -> None:
    """Same job, same input, two+ parallelism levels -> BENCH/BASELINE.md."""
    if levels is None:
        levels = tuple(
            int(x)
            for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "2,8,32").split(",")
        )
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    results = []
    for cpus in levels:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        best = None
        for attempt in range(repeats):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--extract-only"],
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"local[{cpus}] run {attempt + 1}/{repeats}: "
                  f"{rec['turns_per_sec']} turns/sec ({rec['sec']}s)",
                  file=sys.stderr)
            if best is None or rec["sec"] < best["sec"]:
                best = rec
        best["runs"] = repeats
        results.append(best)
        print(f"local[{cpus}]: best {best['turns_per_sec']} turns/sec "
              f"({best['turns']} turns in {best['sec']}s)", file=sys.stderr)

    # Shuffle-path probe at the headline pair: the narrow extract job
    # above can't witness Exchange scaling, so the MinHash signature job
    # (one shuffle, 128 partial-aggregated columns) runs at N and 4N too.
    sh_levels = levels[:2]
    sh_results = []
    # fewer fresh-JVM attempts than the extraction probe: each attempt
    # already takes an internal best-of-3 on a warm session, and the
    # 2-core run is ~90 s of measured work per attempt
    sh_repeats = int(os.environ.get("SPARK_GRAFT_MINHASH_REPEATS", "2"))
    for cpus in sh_levels:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        best = None
        for attempt in range(sh_repeats):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--minhash-only"],
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"minhash local[{cpus}] run {attempt + 1}/{sh_repeats}: "
                  f"{rec['rows_per_sec']} sig rows/sec ({rec['sec']}s)",
                  file=sys.stderr)
            if best is None or rec["sec"] < best["sec"]:
                best = rec
        sh_results.append(best)

    ceiling = _hw_ceiling([r["cpus"] for r in results])

    # Headline pair: the first two levels (N and 4N). Further levels are
    # reported with the measured hardware ceiling alongside.
    lo, hi = results[0], results[1] if len(results) > 1 else results[0]
    speedup = hi["turns_per_sec"] / lo["turns_per_sec"]
    ratio = hi["cpus"] / lo["cpus"] if hi["cpus"] != lo["cpus"] else 1
    eff = speedup / ratio
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(md, "w") as fh:
        fh.write(
            "# BENCH baseline — extraction throughput & scaling efficiency\n\n"
            "North rule: turn-throughput scaling efficiency >=0.8 between N\n"
            "and 4N executors. No real cluster exists in this sandbox, so the\n"
            "evidence is the SAME extraction job (identical parquet input;\n"
            "vectorized narrow extract on byte-bounded scan splits -> parquet\n"
            "snapshot -> bucket-salted ordered rollup + metrics) run at each\n"
            "parallelism level in a fresh JVM. Each level reports the best of\n"
            f"{repeats} runs: this sandbox shares a host with other tenants, so\n"
            "min-of-R is the standard de-noising for external load spikes.\n\n"
            "| parallelism | turns | wall sec | turns/sec | job efficiency vs "
            f"local[{lo['cpus']}] | raw-CPU ceiling of this VM |\n"
            "| --- | --- | --- | --- | --- | --- |\n"
        )
        for r in results:
            e = (r["turns_per_sec"] / lo["turns_per_sec"]) / (r["cpus"] / lo["cpus"])
            fh.write(
                f"| local[{r['cpus']}] | {r['turns']} | {r['sec']} | "
                f"{r['turns_per_sec']} | {e:.2f} | {ceiling.get(r['cpus'], 1.0):.2f} |\n"
            )
        fh.write(
            f"\n**Headline (N={lo['cpus']} -> 4N={hi['cpus']}): {speedup:.2f}x "
            f"speedup over a {ratio:.0f}x core ratio -> scaling efficiency "
            f"{eff:.2f}** (target >=0.8).\n\n"
        )
        if len(sh_results) == 2 and sh_results[0]["cpus"] != sh_results[1]["cpus"]:
            slo, shi = sh_results
            sh_eff = (shi["rows_per_sec"] / slo["rows_per_sec"]) / (
                shi["cpus"] / slo["cpus"]
            )
            fh.write(
                "## Shuffle-path scaling (MinHash signature job)\n\n"
                "The extraction job above is a narrow map + snapshot + rollup;\n"
                "this second probe evidences that an EXCHANGE-carrying\n"
                "aggregation scales too: the production K=128 MinHash\n"
                "signature job on a 128x-replicated sf0.1 documents table\n"
                "(scan -> tokenize -> shingle -> one md5/shingle -> 128\n"
                "partial-aggregated min() columns -> ONE shuffle -> wide\n"
                "(doc_id, m0..m127) signature rows), best of\n"
                f"{sh_repeats} fresh-JVM runs per level (each internally\n"
                "best-of-3 on a warm session). The registered correctness\n"
                "query additionally posexplodes the signature to a scalar\n"
                "(doc_id, j, minh) schema for the DuckDB driver compare;\n"
                "that 128x row materialization is a compare-harness artifact\n"
                "(event-log stage diagnosis: its Generate stage is\n"
                "memory-bandwidth-bound — per-row CPU triples at 8\n"
                "concurrent threads in one JVM) and is not part of the\n"
                "production signature table a dedup pipeline ships.\n\n"
                "| parallelism | signature rows | wall sec | rows/sec | efficiency |\n"
                "| --- | --- | --- | --- | --- |\n"
            )
            for r in sh_results:
                e = (r["rows_per_sec"] / slo["rows_per_sec"]) / (
                    r["cpus"] / slo["cpus"]
                )
                fh.write(
                    f"| local[{r['cpus']}] | {r['rows']} | {r['sec']} | "
                    f"{r['rows_per_sec']} | {e:.2f} |\n"
                )
            fh.write(
                f"\n**Shuffle path (N={slo['cpus']} -> 4N={shi['cpus']}): "
                f"scaling efficiency {sh_eff:.2f}** (target >=0.8).\n\n"
            )
        fh.write(
            "The 'raw-CPU ceiling' column is the efficiency a pure arithmetic\n"
            "multiprocessing burn (no Spark, no memory traffic) attains on\n"
            "this VM at the same process count: the sandbox is a 32-vCPU\n"
            "guest on a shared host, so high process counts contend with\n"
            "other tenants and stop scaling regardless of the job. On a real\n"
            "cluster, 4N executors means 4x machines and that ceiling does\n"
            "not apply; the N->4N pair above is chosen inside the VM's\n"
            "linear-scaling region to isolate the *job's* scaling behavior.\n\n"
            "The timed window starts at the parquet scan and ends when the\n"
            "conversation rollup and per-partition metrics are fully\n"
            "materialized; input generation and python-worker warmup are\n"
            "excluded (a cluster job reads committed parquet/Iceberg).\n"
        )
        # durable session notes survive every regeneration
        notes = os.path.join(REPO, "BENCH", "BASELINE_NOTES.md")
        if os.path.exists(notes):
            with open(notes) as nf:
                fh.write("\n" + nf.read())
    print(json.dumps({"scaling": results, "efficiency": round(eff, 3),
                      "hw_ceiling": {str(k): round(v, 3) for k, v in ceiling.items()}}))


def run_skew_stress() -> dict:
    """Measured skew evidence (north rule: 'salts and repartitions
    skewed conversations — long agent traces'). Two inputs with
    identical PAYLOAD bytes (text/tool/role/ts are untouched):
    ``uniform`` = the fixture ladder without monster traces; ``skewed``
    = the SAME rows with a configurable share (default 80%) of all
    turns relabeled into ONE conversation (turn_idx renumbered
    globally) — the pathological long-trace archetype. Only the
    conversation keys differ, so a timing delta is key distribution,
    not payload volume (caveat: the rewritten key columns
    dictionary-encode differently in parquet, so file bytes and
    byte-bounded split counts differ slightly — read the extract row
    with that in mind).

    ALL cells are interleaved min-of-3: each attempt round touches both
    inputs and both rollup variants before the next round starts, so a
    noise window on this shared host lands on every cell alike (same
    policy as the extract A/B):
    - ``extract``: the narrow vectorized extract -> snapshot write per
      input. Must be ~equal: byte-bounded scan splits, not conversation
      keys, balance this stage (bench.py's no-pre-repartition note).
    - ``rollup_salted`` vs ``rollup_single`` over the committed
      snapshot: the production two-phase bucket-salted ordered rollup
      against the single-phase groupBy(conv_id) it replaces. The
      single-phase merge buffers the ENTIRE monster trace as turn
      structs in one task's aggregation buffer and sorts it there; the
      salted phase-1 pre-joins each 256-turn bucket in parallel, so
      the hot task's state is ~turns/256 strings and its serial work
      is the unavoidable byte concat of the conversation's own output.

    Writes BENCH/SKEW.md from the measured numbers; prints one JSON
    line."""
    from pyspark.sql import Window, functions as F

    from ocr_spark import fixtures
    from ocr_spark.operators.aggregate import conv_text, conv_text_salted
    from ocr_spark.operators.extract import extract

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("SPARK_GRAFT_SKEW_CONVS", "48000"))
    share10 = int(os.environ.get("SPARK_GRAFT_SKEW_SHARE10", "8"))
    spark = _build(cpus)

    uni = os.path.join(BENCH_TMP, f"skewcell_uniform_{n_convs}")
    if not os.path.exists(os.path.join(uni, "_SUCCESS")):
        shutil.rmtree(uni, ignore_errors=True)
        fixtures.transcripts_df(
            spark, n_convs, skew=False, partitions=128
        ).write.mode("overwrite").parquet(uni)
    skw = os.path.join(BENCH_TMP, f"skewcell_skewed_{n_convs}_{share10}")
    if not os.path.exists(os.path.join(skw, "_SUCCESS")):
        # input PREP, not measured: the global renumber window runs once
        shutil.rmtree(skw, ignore_errors=True)
        base = spark.read.parquet(uni)
        marked = F.expr(
            "cast(conv(substr(md5(conv_id), 1, 8), 16, 10) as bigint) % 10"
        ) < share10
        monster = (
            base.filter(marked)
            .withColumn(
                "turn_idx",
                (
                    F.row_number().over(
                        Window.partitionBy(F.lit(1)).orderBy("conv_id", "turn_idx")
                    )
                    - 1
                ).cast("int"),
            )
            .withColumn("conv_id", F.lit("conv_monster"))
        )
        base.filter(~marked).unionByName(monster).repartition(128).write.mode(
            "overwrite"
        ).parquet(skw)

    out: dict = {"cpus": cpus, "n_convs": n_convs, "cells": {}}
    labels = (("uniform", uni), ("skewed", skw))
    snaps = {
        label: os.path.join(BENCH_TMP, f"skewcell_snap_{label}")
        for label, _ in labels
    }

    def extract_once(label: str, path: str) -> float:
        shutil.rmtree(snaps[label], ignore_errors=True)
        t0 = time.perf_counter()
        extract(spark.read.parquet(path)).write.mode("overwrite").parquet(
            snaps[label]
        )
        return time.perf_counter() - t0

    times: dict[tuple, list] = {}
    for _ in range(3):  # alternate labels so noise hits both alike
        for label, path in labels:
            times.setdefault(("extract", label), []).append(
                extract_once(label, path)
            )
    committed = {label: spark.read.parquet(snaps[label]) for label, _ in labels}
    for _ in range(3):  # one full round of all four cells per attempt
        for label, _path in labels:
            times.setdefault(("salted", label), []).append(
                _timeit(lambda: _force(conv_text_salted(committed[label])))
            )
            times.setdefault(("single", label), []).append(
                _timeit(lambda: _force(conv_text(committed[label])))
            )
    for label, _path in labels:
        out["cells"][label] = {
            "extract_sec": round(min(times[("extract", label)]), 3),
            "turns": committed[label].count(),
            "rollup_salted_sec": round(min(times[("salted", label)]), 3),
            "rollup_single_sec": round(min(times[("single", label)]), 3),
        }

    u, s = out["cells"]["uniform"], out["cells"]["skewed"]
    monster_turns = (
        spark.read.parquet(skw).filter("conv_id = 'conv_monster'").count()
    )
    out["monster_turn_share"] = round(monster_turns / s["turns"], 3)
    out["extract_skew_ratio"] = round(s["extract_sec"] / u["extract_sec"], 3)
    out["salted_skew_ratio"] = round(
        s["rollup_salted_sec"] / u["rollup_salted_sec"], 3
    )
    out["single_skew_ratio"] = round(
        s["rollup_single_sec"] / u["rollup_single_sec"], 3
    )
    out["salted_vs_single_on_skew"] = round(
        s["rollup_single_sec"] / s["rollup_salted_sec"], 3
    )
    out["salt_premium_uniform"] = round(
        u["rollup_salted_sec"] / u["rollup_single_sec"], 3
    )
    for snap in snaps.values():
        shutil.rmtree(snap, ignore_errors=True)

    win = out["salted_vs_single_on_skew"]
    if win >= 1.1:
        verdict = (
            f"On the skewed input the salted rollup is **{win}x faster** than "
            "the single-phase groupBy: the measured crossover."
        )
    elif win >= 0.9:
        verdict = (
            "At this scale the two rollups are within noise of each other on "
            "the skewed input: the salt's extra shuffle premium and the "
            "monster's serial merge cost roughly cancel."
        )
    else:
        verdict = (
            f"At this scale the single-phase rollup is still "
            f"{round(1 / win, 2)}x faster even on the skewed input: the "
            "salt's second shuffle costs more than this monster's serial "
            "merge. The salt is an insurance policy priced below — its value "
            "is the BOUND, not this cell's wall clock: single-phase buffers "
            "the whole trace as structs in ONE task (O(trace bytes) heap -> "
            "straggler, then OOM, as traces grow), while salted task state "
            "is capped at ~256-turn buckets regardless of trace length."
        )

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as fh:
        fh.write(
            "# Skew-stress cell — long-agent-trace archetype, measured\n\n"
            "Generated by `python bench.py --skew-stress`. Two inputs with\n"
            "identical payload bytes (text/tool untouched; only conversation\n"
            "keys differ, which shifts parquet key-column encoding slightly);\n"
            "`skewed` relabels a hash-marked share of ALL turns into one\n"
            "conversation (the monster agent trace). ALL cells are interleaved\n"
            "min-of-3 (every attempt round touches both inputs and both rollup\n"
            f"variants, so a noise window hits every cell alike) at local[{cpus}]\n"
            f"({n_convs} base conversations).\n\n"
            "| cell | uniform sec | skewed sec | skew ratio |\n"
            "| --- | --- | --- | --- |\n"
            f"| narrow extract -> snapshot | {u['extract_sec']} | "
            f"{s['extract_sec']} | {out['extract_skew_ratio']} |\n"
            f"| ordered rollup, two-phase bucket-salted (production) | "
            f"{u['rollup_salted_sec']} | {s['rollup_salted_sec']} | "
            f"{out['salted_skew_ratio']} |\n"
            f"| ordered rollup, single-phase groupBy | "
            f"{u['rollup_single_sec']} | {s['rollup_single_sec']} | "
            f"{out['single_skew_ratio']} |\n\n"
            f"Monster conversation holds **{out['monster_turn_share']:.0%} of "
            f"all turns** ({monster_turns} of {s['turns']}).\n\n"
            f"{verdict}\n\n"
            "Reading the rows:\n\n"
            "- The extract row pins the docstring claim that the narrow map\n"
            "  stage is skew-immune: byte-bounded scan splits balance work\n"
            "  whatever the conversation keys look like, so no pre-extract\n"
            "  repartition is wanted.\n"
            f"- The salt's insurance premium on skew-free data is "
            f"{out['salt_premium_uniform']}x\n"
            "  (two shuffles moving pre-joined bucket strings vs one moving\n"
            "  turn structs with map-side partial lists).\n"
            "- What the premium buys is a memory/straggler BOUND, not a\n"
            "  wall-clock win at every scale: the single-phase final merge\n"
            "  buffers and sorts the whole monster trace in one task\n"
            "  (task state = O(trace bytes); a 10^6-turn agent trace at KBs\n"
            "  per turn is GBs in one aggregation buffer), while the salted\n"
            "  phase-1 pre-joins each 256-turn bucket in parallel and the hot\n"
            "  task's remaining serial work is the unavoidable byte concat of\n"
            "  that conversation's own output string.\n"
        )
    spark.stop()
    return out


def _timeit(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    elif "--extract-only" in sys.argv:
        print(json.dumps(run_extract_only()))
    elif "--minhash-only" in sys.argv:
        print(json.dumps(run_minhash_only()))
    elif "--skew-stress" in sys.argv:
        print(json.dumps(run_skew_stress()))
    else:
        print(json.dumps(run_bench()))
