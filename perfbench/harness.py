"""Measurement plumbing for the benchmark: spans, process-tree memory,
Spark event-log attribution and small statistics helpers.

Nothing here imports the engine or pyspark, so the module can be
loaded before the environment is pinned.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# --- spans ---------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder: pass -> layer call. Spark jobs become
    the third level when the event log is attributed after the run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, attrs=attrs))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- process-tree memory -------------------------------------------------


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident size (VmHWM) of ``root`` and every live
    descendant: the driver, the JVM spark-submit starts, and the Python
    workers the JVM forks. Read from /proc at the end of a pass; no
    sampling thread runs beside the measured work."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat[stat.rfind(b")") + 2 :].split()
        parent_of[int(entry)] = int(fields[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, ppid in parent_of.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, since
    boot). A pass that ran while it grew was slowed by the host, not by
    the engine; the report prints the growth during the measured pass."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# --- Spark event log -------------------------------------------------------


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task totals from every event-log file under
    ``log_dir`` (plain or rolling layout). A stage's tasks are credited
    to the first job that lists it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_ends: list[dict] = []
    paths = sorted(
        os.path.join(d, n) for d, _sub, names in os.walk(log_dir) for n in names
        if not n.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = Job(jid, ev["Submission Time"] / 1e3, 0.0, ev["Stage IDs"])
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(ev)
    for ev in task_ends:
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        metrics = ev.get("Task Metrics")
        if job is None or not metrics:
            continue
        job.tasks += 1
        job.run_s += metrics.get("Executor Run Time", 0) / 1e3
        job.cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
        job.shuffle_write_bytes += metrics.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute_jobs(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Assign each job to the innermost span open at its SUBMISSION
    time. Job groups are not used: a layer may submit jobs from its own
    thread pool, whose threads need not carry the caller's group."""
    owned: dict[int, list[Job]] = {}
    for job in jobs:
        best = None
        for idx, s in enumerate(tracer.spans):
            if s.start <= job.start <= s.end:
                if best is None or s.start >= tracer.spans[best].start:
                    best = idx
        if best is not None:
            owned.setdefault(best, []).append(job)
    return owned
