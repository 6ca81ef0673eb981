"""Spans around layer calls, Spark event-log folding and warehouse file diffs.

Everything here observes the engine from outside: a span tags the Spark jobs
its call launches with a job group (``SparkContext.setJobGroup``), the event
log written by Spark is folded by that group after the session stops, and
storage is measured by walking the warehouse directory.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    gid: str  # job group id: "<name>#<n>", unique per span
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags each span's Spark jobs with its job group.

    Spans are opened from one thread only: a job group is a thread-local
    property of the calling thread. A disabled tracer records nothing and
    tags nothing, so the same workload code runs traced and untraced.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.gid, span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{name}#{len(self.spans)}", name, parent and parent.gid, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class GroupStats:
    """Spark work of one job group, folded from the event log."""

    jobs: int = 0
    tasks: int = 0
    executor_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark confs that write an uncompressed event log under ``log_dir``,
    as one file: rolling (a directory of parts) is on by default."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _event_lines(log_dir: str):
    """Events of the one application that logged under ``log_dir``."""
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name), encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def fold_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job group id → its jobs, tasks, executor time, GC, shuffle and spill.

    A stage shared by several jobs is charged to the first job that lists
    it, which is the job that ran it; later jobs skip it."""
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, GroupStats] = {}
    tasks: list[dict] = []
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = gid
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            if gid is not None:
                out.setdefault(gid, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            gid = job_group.get(jid)
            if gid is not None and jid in job_start:
                out[gid].job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    for ev in tasks:
        gid = job_group.get(stage_job.get(ev["Stage ID"], -1))
        if gid is None:
            continue
        g = out[gid]
        m = ev.get("Task Metrics") or {}
        g.tasks += 1
        g.executor_ms += m.get("Executor Run Time", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---- storage, measured by walking the warehouse ---------------------------

def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """Relative path → (size, mtime_ns, inode) of every regular file."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # a swap removed it mid-walk
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) present in ``after`` that are new or changed since
    ``before``: what a write call put on disk, including rewrites."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return sum(v[0] for v in new), len(new)


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    snap = snapshot(root)
    return sum(v[0] for v in snap.values()), len(snap)
