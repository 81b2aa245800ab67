"""The repo benchmark: the production extract job, timed end to end, with a
separate traced run that splits it by module.

    python3 perfbench/run.py --workload full_mixed --seed 1 --seconds 12 --trace 0

The timed job is what ``jobs/extract_job.py`` runs with default flags: scan
the input, ``pipeline.run_resumable`` into a snapshot store,
``aggregate.conv_text_salted`` written to parquet, then the
``pipeline.read_metrics`` parse-failure sum. One warm session
(``session.build_session`` at ``local[nproc]``) runs it in a closed loop, one
job at a time, for ``--seconds``; every job's output is checked against the
single-process oracle. Times are wall times with the share of CPU the
hypervisor gave to other guests taken out (``sparkhost.Stopwatch``).
``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones. The last stdout line is the result JSON;
the line before it carries the host key and the raw samples. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import sparkhost  # noqa: E402

CPU_START = sparkhost.cpu_times()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WARMUP_JOBS = 2  # untimed jobs before timing; append_delta's base-store build is one
SETUP_PROBES = 1  # extra set-ups in fresh processes; setup_s is the median of 1 + these
TRACED_REPS = 3  # traced run: jobs with spans, jobs without, and repeats of each probe
KINDS = ("text", "html", "pdf_blocks", "ocr_lines", "error")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(values):
    return statistics.median(values) if values else 0.0


class Bench:
    """One workload on one session: restore, run, check."""

    def __init__(self, spark, wl, run_dir: str, tracer):
        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.out = os.path.join(run_dir, "out")
        self.store = os.path.join(self.out, "extracted")
        self.conv_dir = os.path.join(self.out, "conv_text")
        self.base_store = os.path.join(run_dir, "base_store")
        self.expected: dict = {}
        self.parse_s = {k: 0.0 for k in KINDS}
        self.parse_n = {k: 0 for k in KINDS}

    # -- untimed preparation ------------------------------------------------

    def oracle_pass(self) -> None:
        """Expected row for every input turn, timing each call per kind over
        the turns one job parses.

        Drops turns whose extracted text is blank but not all spaces (an
        ocr_lines turn whose confident lines are all empty gives ``"\\n"``):
        ``aggregate_conversation`` skips them as blank, while
        ``conv_text_salted``'s ``trim`` strips only spaces and keeps them, so
        every job would fail the gate. The mismatch is an open bug."""
        from ocr_spark.oracle.extract import extract_turn

        clock = time.perf_counter
        kept = []
        for r in self.wl.rows:
            conv_id, turn_idx, _role, text, tool, _ts = r
            t0 = clock()
            row = extract_turn(text, tool)
            dt = clock() - t0
            out = row["extracted_text"]
            if out.strip(" ") and not out.strip():
                continue
            kept.append(r)
            row["bytes_in"] = len(text.encode()) + len(tool.encode())
            self.expected[(conv_id, turn_idx)] = row
            if self.wl.parsed((conv_id, turn_idx)):
                self.parse_s[row["kind"]] += dt
                self.parse_n[row["kind"]] += 1
        self.wl.rows = kept

    def build_base_store(self) -> None:
        from ocr_spark.pipeline import run_resumable

        if self.wl.base_dir is not None:
            run_resumable(self.spark, self.spark.read.parquet(self.wl.base_dir), self.base_store)

    def restore(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        if self.wl.base_dir is not None:
            shutil.copytree(self.base_store, self.store)
        os.sync()  # the copy's writeback lands here, not in the timed job

    # -- the timed job ------------------------------------------------------

    def job(self, rep: int = 0):
        """Returns the parse-failure sum the job reports."""
        from ocr_spark.operators.aggregate import conv_text_salted
        from ocr_spark.pipeline import read_metrics, run_resumable

        span = self.tracer.span
        with span("job", rep):
            transcripts = self.spark.read.parquet(self.wl.input_dir)
            with span("pipeline.run_resumable", rep):
                committed = run_resumable(self.spark, transcripts, self.store)
            with span("aggregate.conv_text_salted", rep):
                conv_text_salted(committed).write.mode("overwrite").parquet(self.conv_dir)
            with span("pipeline.read_metrics", rep):
                metrics = read_metrics(self.spark, self.store)
                return metrics.groupBy().sum("parse_failures").collect()[0][0] if metrics else None

    def timed_job(self, rep: int = 0, sample: bool = False) -> sparkhost.Stopwatch:
        """One restored, timed, checked job; raises if the gate fails."""
        self.restore()
        with sparkhost.Stopwatch() as sw:
            failures = self.job(rep)
        problems = self.check(failures) + (self.check_sample() if sample else [])
        if problems:
            raise AssertionError("; ".join(problems))
        return sw

    # -- correctness gate ---------------------------------------------------

    def check(self, failures) -> list[str]:
        """After every job: turn count, duplicate keys, failure sum."""
        from pyspark.sql import functions as F

        from ocr_spark.pipeline import read_snapshots

        problems = []
        committed = read_snapshots(self.spark, self.store)
        n, n_keys = committed.agg(F.count("*"), F.countDistinct("conv_id", "turn_idx")).first()
        if n != len(self.wl.rows):
            problems.append(f"committed {n} turns, input has {len(self.wl.rows)}")
        if n_keys != n:
            problems.append(f"{n - n_keys} duplicate (conv_id, turn_idx) keys committed")
        want_failures = sum(not r["parse_ok"] for r in self.expected.values())
        if failures != want_failures:
            problems.append(f"read_metrics reports {failures} parse failures, oracle {want_failures}")
        return problems

    def check_sample(self) -> list[str]:
        """The sampled conversations, row by row, against the oracle."""
        from pyspark.sql import functions as F

        from ocr_spark.oracle.extract import aggregate_conversation
        from ocr_spark.pipeline import read_snapshots

        problems = []
        committed = read_snapshots(self.spark, self.store)
        sample = self.wl.sample
        got_rows = committed.filter(F.col("conv_id").isin(sample)).collect()
        want_keys = {k for k in self.expected if k[0] in sample}
        if {(r.conv_id, r.turn_idx) for r in got_rows} != want_keys:
            problems.append("sampled conversations committed a different key set")
        for r in got_rows:
            want = self.expected.get((r.conv_id, r.turn_idx))
            problem = _row_problem(r, want) if want else "not in the input"
            if problem:
                problems.append(f"row {r.conv_id}/{r.turn_idx}: {problem}")
                break
        conv_rows = {
            r.conv_id: r
            for r in self.spark.read.parquet(self.conv_dir).filter(F.col("conv_id").isin(sample)).collect()
        }
        for conv_id in sample:
            turns = [(k[1], v["kind"], v["extracted_text"]) for k, v in self.expected.items() if k[0] == conv_id]
            want = aggregate_conversation(turns)
            got = conv_rows.get(conv_id)
            bad = ["missing"] if got is None else [k for k in want if got[k] != want[k]]
            if bad:
                problems.append(f"conv_text for {conv_id}: {', '.join(bad)} differ from aggregate_conversation")
        return problems


def _row_problem(r, want: dict) -> str | None:
    d = r.asDict(recursive=True)
    for key in ("kind", "extracted_text", "parse_ok", "error", "bytes_in", "lines", "blocks"):
        if d[key] != want[key]:
            return f"{key} differs"
    if [(s["start"], s["end"]) for s in d["spans"]] != [tuple(s) for s in want["spans"]]:
        return "spans differ"
    return None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _setup_probe() -> sparkhost.Stopwatch:
    proc = None
    try:
        with sparkhost.Stopwatch() as sw:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "setup_probe.py")],
                stdout=subprocess.PIPE,
                text=True,
            )
            line = proc.stdout.readline()
        proc.stdout.read()
    finally:
        if proc is not None:
            proc.wait(timeout=120)
    if line.strip() != "ready" or proc.returncode != 0:
        raise RuntimeError(f"set-up probe failed (exit {proc.returncode})")
    return sw


def run_untraced(bench: Bench, seconds: float) -> tuple[dict, dict, int, int]:
    jobs, attempted, failed = [], 0, 0
    with spans.PeakRss() as rss:
        t_end = time.perf_counter() + seconds
        while attempted == 0 or time.perf_counter() < t_end:
            attempted += 1
            try:
                jobs.append(bench.timed_job())
            except Exception:
                failed += 1
                traceback.print_exc()
    # the last job's output is still in place: check it row by row too
    problems = bench.check_sample() if jobs else []
    if problems:
        failed += 1
        print("correctness gate: " + "; ".join(problems), file=sys.stderr)
    new_turns = sum(bench.parse_n.values())
    snap_bytes = _dir_bytes(bench.store)
    times = [j.s for j in jobs]
    metrics = {
        "turns_per_s": _metric(_median([new_turns / t for t in times]), "turns/s"),
        "job_s": _metric(_median(times), "s"),
        "setup_s": None,  # filled once the session is down
        "peak_rss_mb": _metric(rss.peak_mb, "MB"),
        "snapshot_bytes_per_turn": _metric(snap_bytes / len(bench.wl.rows), "B/turn"),
    }
    details = {
        "job_s_samples": times,
        "job_wall_s_samples": [j.wall for j in jobs],
        "job_steal_samples": [j.steal for j in jobs],
        "new_turns": new_turns,
    }
    return metrics, details, attempted, failed


def run_traced(bench: Bench) -> tuple[dict, int, int]:
    """Per-layer numbers: production jobs alternately without and with
    spans, then rounds of one probe per layer call, each under its own span
    and job group."""
    from ocr_spark.operators.aggregate import partition_metrics
    from ocr_spark.operators.extract import extract, extract_deduped
    from ocr_spark.pipeline import read_snapshots

    spark, tracer, wl = bench.spark, bench.tracer, bench.wl
    attempted, failed = 0, 0
    runs = {"plain": [], "traced": []}
    for rep in range(TRACED_REPS):
        for phase, out in runs.items():
            tracer.enabled = phase == "traced"
            attempted += 1
            try:
                out.append(bench.timed_job(rep, sample=True).s)
            except Exception:
                failed += 1
                traceback.print_exc()
    tracer.enabled = True
    read = spark.read.parquet
    probes = [
        ("scan", lambda: _noop(read(wl.input_dir).select("conv_id", "turn_idx", "text", "tool"))),
        ("extract.arrow", lambda: _noop(extract(read(wl.parsed_dir)))),
        ("extract.deduped", lambda: _noop(extract_deduped(read(wl.parsed_dir)))),
        ("pipeline.read_snapshots", lambda: _noop(read_snapshots(spark, bench.store))),
        (
            "aggregate.partition_metrics",
            lambda: _noop(partition_metrics(read_snapshots(spark, bench.store), run_id="perfbench")),
        ),
    ]
    if wl.base_dir is not None:
        probes.append(("pipeline.antijoin", lambda: _antijoin(bench)))
    for rep in range(TRACED_REPS):
        for name, fn in probes:
            with tracer.span(name, rep):
                fn()
    return runs, attempted, failed


def _antijoin(bench: Bench) -> None:
    """The resume anti-join alone: job input against the base store's keys."""
    from ocr_spark.pipeline import read_snapshots

    done = read_snapshots(bench.spark, bench.base_store).select("conv_id", "turn_idx")
    _noop(bench.spark.read.parquet(bench.wl.input_dir).join(done, ["conv_id", "turn_idx"], "left_anti"))


def layer_metrics(bench: Bench, evdir: str, runs: dict, build_s: float) -> dict:
    """The per-layer metrics from the spans and the traced run's event log."""
    tracer = bench.tracer
    stages, jobs = spans.parse_event_log(evdir)
    by_span: dict = {}
    for sid in sorted(stages):
        group = stages[sid]["group"]
        if group and group.startswith("span"):
            by_span.setdefault(int(group[4:]), []).append(stages[sid])

    def spans_named(name):
        return [s for s in tracer.spans if s["name"] == name]

    def stage_sum(names, key, rep, pred=lambda s: True):
        return sum(
            st[key]
            for sp in tracer.spans
            if sp["name"] in names and sp["rep"] == rep
            for st in by_span.get(sp["id"], [])
            if pred(st)
        )

    def per_rep(fn):
        return _median([fn(rep) for rep in range(TRACED_REPS)])

    def dur(name):
        return _median([s["s"] for s in spans_named(name)])

    m = {"session.build_s": _metric(build_s, "s"), "scan.s": _metric(dur("scan"), "s")}
    for k in KINDS:
        n = bench.parse_n[k]
        m[f"oracle.{k}.us_per_turn"] = _metric(bench.parse_s[k] / n * 1e6 if n else 0.0, "us/turn")
        m[f"oracle.{k}.turns"] = _metric(n, "count")
    m["oracle.parse_s"] = _metric(sum(bench.parse_s.values()), "s")

    udf = lambda st: st["udf"]  # noqa: E731
    m["extract.arrow_s"] = _metric(dur("extract.arrow"), "s")
    m["extract.deduped_s"] = _metric(dur("extract.deduped"), "s")
    m["extract.udf_tasks"] = _metric(per_rep(lambda r: stage_sum(("pipeline.run_resumable",), "tasks", r, udf)), "count")
    m["extract.udf_run_s"] = _metric(per_rep(lambda r: stage_sum(("pipeline.run_resumable",), "run_s", r, udf)), "s")
    m["extract.dedup_shuffle_mb"] = _metric(
        per_rep(lambda r: stage_sum(("extract.deduped",), "shuffle_write_mb", r)), "MB"
    )

    job_names = ("job", "pipeline.run_resumable", "aggregate.conv_text_salted", "pipeline.read_metrics")
    m["pipeline.run_resumable_s"] = _metric(dur("pipeline.run_resumable"), "s")
    m["pipeline.read_snapshots_s"] = _metric(dur("pipeline.read_snapshots"), "s")
    m["pipeline.read_metrics_s"] = _metric(dur("pipeline.read_metrics"), "s")
    m["pipeline.spark_jobs"] = _metric(
        per_rep(
            lambda r: sum(
                jobs.get(f"span{sp['id']}", 0) for sp in tracer.spans if sp["name"] in job_names and sp["rep"] == r
            )
        ),
        "count",
    )
    m["pipeline.antijoin_s"] = _metric(dur("pipeline.antijoin"), "s")
    m["pipeline.antijoin_shuffle_mb"] = _metric(
        per_rep(lambda r: stage_sum(("pipeline.antijoin",), "shuffle_write_mb", r)), "MB"
    )

    def phase_walls(rep):
        walls = [
            st["wall_s"]
            for sp in tracer.spans
            if sp["name"] == "aggregate.conv_text_salted" and sp["rep"] == rep
            for st in by_span.get(sp["id"], [])
        ]
        return (sum(walls[:-1]), walls[-1]) if walls else (0.0, 0.0)

    m["aggregate.conv_text_salted_s"] = _metric(dur("aggregate.conv_text_salted"), "s")
    m["aggregate.phase1_wall_s"] = _metric(per_rep(lambda r: phase_walls(r)[0]), "s")
    m["aggregate.phase2_wall_s"] = _metric(per_rep(lambda r: phase_walls(r)[1]), "s")
    m["aggregate.shuffle_write_mb"] = _metric(
        per_rep(lambda r: stage_sum(("aggregate.conv_text_salted",), "shuffle_write_mb", r)), "MB"
    )
    m["aggregate.partition_metrics_s"] = _metric(dur("aggregate.partition_metrics"), "s")

    layer_spans = {
        "scan": ("scan",),
        "extract": ("extract.deduped",),
        "pipeline": ("pipeline.run_resumable", "pipeline.read_metrics"),
        "aggregate": ("aggregate.conv_text_salted",),
    }
    for layer, names in layer_spans.items():
        m[f"{layer}.cpu_s"] = _metric(per_rep(lambda r: stage_sum(names, "cpu_s", r)), "s")
        m[f"{layer}.gc_s"] = _metric(per_rep(lambda r: stage_sum(names, "gc_s", r)), "s")
        m[f"{layer}.spill_mb"] = _metric(per_rep(lambda r: stage_sum(names, "spill_mb", r)), "MB")

    roots = spans_named("job")
    self_by_layer: dict = {}
    for root in roots:
        for sp in [root, *tracer.children(root["id"])]:
            layer = sp["name"].split(".", 1)[0]
            self_by_layer.setdefault(layer, {}).setdefault(root["rep"], 0.0)
            self_by_layer[layer][root["rep"]] += tracer.self_s(sp)
    for layer in ("job", "pipeline", "aggregate"):
        m[f"{layer}.self_s"] = _metric(_median(list(self_by_layer.get(layer, {}).values())), "s")
    traced_s, plain_s = _median(runs["traced"]), _median(runs["plain"])
    m["trace.job_s"] = _metric(traced_s, "s")
    m["trace.overhead_frac"] = _metric(traced_s / plain_s - 1 if plain_s else 0.0, "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("full_mixed", "append_delta"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(sparkhost.REPO, "ocr_spark")):
        print(f"perfbench: no ocr_spark/ package under {sparkhost.REPO}; run from a full checkout", file=sys.stderr)
        return 2

    sparkhost.prepare_env()
    import workloads  # imports ocr_spark, which prepare_env puts on sys.path

    run_dir = os.path.join(sparkhost.WORK, f"{args.workload}-{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    evdir = os.path.join(run_dir, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir)
    with sparkhost.Stopwatch(T_START, CPU_START) as setup0:
        t0 = time.perf_counter()
        spark = sparkhost.build(f"perfbench-{args.workload}", event_log_dir=evdir)
        build_s = time.perf_counter() - t0
        sparkhost.worker_round_trip(spark)
    tracer = spans.Tracer(spark, enabled=False)
    # wall seconds of each untimed phase, for sizing the run
    phases: dict = {"setup": setup0.wall, "warmup_jobs": []}
    try:
        t0 = time.perf_counter()
        wl = workloads.make(args.workload, args.seed, run_dir)
        bench = Bench(spark, wl, run_dir, tracer)
        bench.oracle_pass()
        wl.write(n_files=2 * sparkhost.nproc())
        phases["inputs"] = time.perf_counter() - t0
        if wl.base_dir is not None:
            t0 = time.perf_counter()
            bench.build_base_store()
            phases["warmup_jobs"].append(time.perf_counter() - t0)
        while len(phases["warmup_jobs"]) < WARMUP_JOBS:
            bench.restore()
            t0 = time.perf_counter()
            bench.job()
            phases["warmup_jobs"].append(time.perf_counter() - t0)
        if args.trace:
            runs, attempted, failed = run_traced(bench)
        else:
            t0 = time.perf_counter()
            metrics, details, attempted, failed = run_untraced(bench, args.seconds)
            phases["loop"] = time.perf_counter() - t0
    finally:
        sparkhost.shutdown(spark)
    if args.trace:
        tracer.dump(os.path.join(sparkhost.WORK, f"spans-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(bench, evdir, runs, build_s)
        details = {"runs": runs}
    else:
        setups = [setup0] + [_setup_probe() for _ in range(SETUP_PROBES)]
        metrics["setup_s"] = _metric(_median([sw.s for sw in setups]), "s")
        details["setup_s_samples"] = [sw.s for sw in setups]
        details["setup_wall_s_samples"] = [sw.wall for sw in setups]
    shutil.rmtree(run_dir, ignore_errors=True)
    phases["total"] = time.perf_counter() - T_START
    details.update(
        phases_s=phases,
        workload=args.workload,
        seed=args.seed,
        host=sparkhost.host_key(),
        turns=len(wl.rows),
        failed_frac=failed / attempted,
    )
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
