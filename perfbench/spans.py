"""Spans around calls into each layer, Spark event-log stage metrics per
span, and peak RSS of the benchmark's process tree.

A span is ``(id, name, parent, rep, start, end, steal, s)``; its layer is
the name up to the first dot. ``s`` is its duration with the hypervisor's
share taken out, as ``sparkhost.Stopwatch`` does. Each span runs its Spark jobs under its own job group
(``span<id>``), so stages from the event log map back to the innermost span
that launched them. Spans stay in memory and are written out when the run
ends.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

import sparkhost

_GROUP_KEY = "spark.jobGroup.id"
# physical operators that run a Python UDF inside the stage
_UDF_SCOPES = ("MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")


class Tracer:
    """Records spans while ``enabled``; when off, a span runs its body only."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, rep: int = 0):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "rep": rep,
            "start": None,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"span{rec['id']}", name)
        sw = sparkhost.Stopwatch()
        try:
            with sw:
                rec["start"] = sw.start
                yield
        finally:
            rec.update(end=rec["start"] + sw.wall, steal=sw.steal, s=sw.s)
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty(_GROUP_KEY, None)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_s(self, span: dict) -> float:
        """``s`` minus the ``s`` of its (sequential) child spans."""
        return span["s"] - sum(c["s"] for c in self.children(span["id"]))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _blank_stage() -> dict:
    return {
        "tasks": 0,
        "wall_s": 0.0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "udf": False,
        "group": None,
    }


def _event_lines(evdir: str):
    """Lines of a v1 event log file or of a v2 (rolling) log directory."""
    for path in sorted(glob.glob(os.path.join(evdir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith((".", "appstatus")):
            with open(path, encoding="utf-8", errors="replace") as fh:
                yield from fh


def parse_event_log(evdir: str) -> tuple[dict, dict]:
    """Per-stage metrics from an uncompressed event log, in the shape of
    ``tools/minhash_stage_diag.parse_stages`` plus the job group, spill and
    a Python-UDF flag. Returns ``(stages by id, job count by group)``."""
    stages: dict = {}
    jobs: dict = {}
    for line in _event_lines(evdir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP_KEY)
            jobs[group] = jobs.get(group, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            s = stages.setdefault(ev["Stage Info"]["Stage ID"], _blank_stage())
            s["group"] = (ev.get("Properties") or {}).get(_GROUP_KEY)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            s = stages.setdefault(si["Stage ID"], _blank_stage())
            s["tasks"] = si["Number of Tasks"]
            s["wall_s"] = (si["Completion Time"] - si["Submission Time"]) / 1000
            scopes = " ".join(str(r.get("Scope", "")) for r in si.get("RDD Info", []))
            s["udf"] = any(f'"{name}"' in scopes for name in _UDF_SCOPES)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = stages.setdefault(ev["Stage ID"], _blank_stage())
            s["run_s"] += m.get("Executor Run Time", 0) / 1000
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sr = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return stages, jobs


def _proc_table() -> dict:
    """pid -> (parent pid, virtual size in bytes, resident pages)."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                table[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]))
            except (OSError, IndexError, ValueError):
                continue
    return table


def tree_rss_mb(root: int) -> float:
    """RSS summed over ``root`` and its descendants. A child whose size and
    RSS equal its parent's is a clone that has not exec'd yet (the JVM
    spawning a helper), sharing the parent's pages, and is not counted."""
    table = _proc_table()
    children: dict = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    pages, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        ppid, vsize, rss = table.get(pid, (0, 0, 0))
        if pid == root or table.get(ppid, (0, 0, 0))[1:] != (vsize, rss):
            pages += rss
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakRss:
    """Samples the RSS summed over this process and its descendants (the
    driver JVM and its Python workers) every ``interval_s`` while open."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
