"""One warm Spark session, sized to the host, rooted in the checkout.

Every path Spark, the JVM and the Python workers write to is placed under
``<checkout>/.perfbench_work`` so a run reads and writes only inside its
checkout. The repo root goes on the Python workers' path, so the benchmark
works from any current directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """Driver heap cap: a quarter of host RAM, at most 1 GiB. The inputs
    are tens of MB, and the host's memory is shared with other work."""
    return max(512, min(1024, mem_total_mb() // 4))


def cpu_times() -> list[int]:
    """This machine's aggregate CPU counters from /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Of the CPU time this machine's CPUs wanted between two ``cpu_times``
    readings (busy or stolen, not idle), the share the hypervisor ran other
    guests instead: steal / (user + nice + system + irq + softirq + steal)."""
    d = [b - a for a, b in zip(before, after)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


class Stopwatch:
    """Times a block two ways: ``wall`` seconds, and ``s``, the wall time
    with the share of CPU time the hypervisor gave to other guests taken
    out, ``wall * (1 - steal)``. On a shared host a job's wall time tracks
    that share (it ran from 3% to 46% per job on a 4-vCPU guest), so ``s``
    is what the job costs on the CPU it was given. Without steal, ``s`` is
    the wall time."""

    def __init__(self, start: float | None = None, cpu: list[int] | None = None):
        self.start = start
        self._cpu = cpu

    def __enter__(self):
        if self.start is None:
            self._cpu = cpu_times()
            self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.start
        self.steal = steal_share(self._cpu, cpu_times())
        self.s = self.wall * (1 - self.steal)


def host_key() -> dict:
    """Numbers compare only between runs with an equal host key."""
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def prepare_env() -> None:
    """Process environment the JVM and Python workers inherit. Must run
    before the first session is built in this process."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the spark-submit launcher and the driver):
    # temp files in the checkout, and no /tmp/hsperfdata_<user> counters
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # SPARK_LOCAL_DIRS outranks spark.local.dir, so set both
    os.environ["SPARK_LOCAL_DIRS"] = local


def build(app_name: str, event_log_dir: str | None = None):
    """``session.build_session`` at ``local[nproc]`` with this host's caps."""
    from ocr_spark.session import build_session

    cpus = nproc()
    heap = driver_heap_mb()
    # the whole heap is committed and touched at start, so the JVM's RSS is
    # the heap cap plus what the program holds off-heap, not the point G1
    # had reached in growing the heap when the peak was sampled.
    # C1 only (TieredStopAtLevel=1): under default tiered compilation C2
    # keeps compiling Spark's planning and scheduling code for 20+ jobs (a
    # job's CPU falls from ~10 to ~5 CPU-s over them), longer than a run
    # can warm up for; with C1 alone a job's CPU is flat after one warm-up.
    extra = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{event_log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = build_session(app_name=app_name, master=f"local[{cpus}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def worker_round_trip(spark) -> None:
    """One Python worker starts, runs a task and answers."""
    got = spark.sparkContext.parallelize([1], 1).map(lambda x: x + 1).collect()
    if got != [2]:
        raise RuntimeError(f"python worker round trip returned {got!r}")


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
