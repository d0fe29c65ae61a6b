"""Spans, Spark event-log task metrics and /proc readings.

Spans are recorded around the benchmark's calls into each engine
module and kept in memory until the run ends.  Inside a span, Spark
jobs are tagged with ``setJobGroup(span name)``, so the event log
attributes every task to the span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent and trace id."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str = "", **attrs):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext if self.spark is not None else None
        rec = {"name": name, "trace": trace_id, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if sc is not None:
            sc.setJobGroup(name, name, interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                if parent:
                    sc.setJobGroup(parent, parent, interruptOnCancel=False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def task_metrics_by_group(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from a Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out.setdefault(stage_group.get(ev.get("Stage ID"), "untagged"), {
                        "tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0})
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["tasks"] += 1
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    g["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
                    g["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
    return out


# --- /proc readings over the engine's processes (JVM + Python workers) ---


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def engine_pids(jvm_pid: int) -> list[int]:
    pids, todo = [], [jvm_pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return pids


def _stat_cpu(fields: list[str], children: bool = False) -> float:
    """utime + stime (+ cutime + cstime) from /proc/.../stat fields
    after the command name."""
    return sum(int(f) for f in fields[11:15 if children else 13]) / CLK_TCK


def jit_seconds(jvm_pid: int) -> float:
    """CPU of the JVM's JIT compiler threads.  ``run.py`` starts the JVM
    with ``-XX:-UseDynamicNumberOfCompilerThreads``, so these threads
    live for the whole run and none of their time is lost."""
    total = 0.0
    for path in glob.glob(f"/proc/{jvm_pid}/task/*/stat"):
        try:
            with open(path) as fh:
                raw = fh.read()
        except OSError:
            continue
        name, rest = raw.rsplit(")", 1)
        if "CompilerThre" in name:
            total += _stat_cpu(rest.split())
    return total


def cpu_seconds(jvm_pid: int) -> float:
    """Engine CPU: user + system time of the JVM, its Python workers and
    this process (py4j calls, ``toPandas``, the HTTP sink target),
    less the JVM's JIT compilation.  A worker that has exited and been
    reaped counts in its parent's cutime/cstime.  The kernel leaves out
    time the hypervisor stole.  JIT compilation is left out: after
    warm-up it is still about 40% of a measured pass's CPU, and how
    much of it lands inside the pass depends on timing."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    total = own.ru_utime + own.ru_stime - jit_seconds(jvm_pid)
    for p in engine_pids(jvm_pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                total += _stat_cpu(fh.read().rsplit(")", 1)[1].split(), children=True)
        except OSError:
            pass
    return total


def host_cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the JVM plus its Python workers."""
    total = 0
    for p in engine_pids(jvm_pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024
