"""Spans and Spark job counts for the traced run.

A :class:`Tracer` wraps calls into the program's layers in spans (name,
start, end, parent, request/round id). Spans live in memory and are
written out once, when the run ends. A span opened with ``group=True``
also tags the jobs it starts with its own Spark job group, so the jobs,
stages and tasks it ran are read back from ``statusTracker`` when it
closes, and executor time, shuffle, spill and GC come from Spark's event
log, parsed offline per job group (:func:`parse_event_log`).

With tracing off, :meth:`Tracer.span` hands back one shared no-op
context: the untraced run pays a method call per span and nothing else.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from pathlib import Path

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def span(self, name: str, group: bool = False, **attrs):
        if not self.enabled:
            return _NOOP
        return self._span(name, group, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, group: bool, attrs: dict):
        t_book = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        sc = self.spark.sparkContext if group else None
        if group:
            rec["group"] = f"span-{sid}"
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        self.bookkeeping_s += time.perf_counter() - t_book
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_book = time.perf_counter()
            self._stack.pop()
            if group:
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, outer)
                rec.update(job_counts(self.spark, rec["group"]))
            self.bookkeeping_s += time.perf_counter() - t_book

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span measured by the caller (e.g. a streaming microbatch,
        whose jobs run under the query's own job group)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def export(self) -> list[dict]:
        """The spans with times relative to the first one, plus self time."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["start"] = round(s["start"] - t0, 6)
            rec["end"] = round(s["end"] - t0, 6)
            rec["self_s"] = round(self_time(s, self.spans), 6)
            out.append(rec)
        return out


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it that child spans cover."""
    kids = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans
        if c.get("parent") == span["id"]
    ]
    return (span["end"] - span["start"]) - union_length([k for k in kids if k[1] > k[0]])


def job_counts(spark, group: str) -> dict:
    """Jobs, stages that ran, and tasks completed for one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


def parse_event_log(paths: list[Path]) -> dict[str, dict]:
    """Per job group: job wall (union of job intervals), executor run
    and CPU time, GC, shuffle write and spill, from the files of an
    uncompressed Spark event log, in order."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    acc: dict[str, dict] = defaultdict(
        lambda: {"run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write_b": 0, "spill_b": 0, "tasks": 0}
    )
    for path in paths:
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        intervals[job_group[jid]].append((job_start[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    a = acc[group]
                    a["tasks"] += 1
                    a["run_ms"] += m.get("Executor Run Time", 0)
                    a["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out = {}
    for group in set(acc) | set(intervals):
        rec = dict(acc[group])
        rec["job_s"] = union_length(intervals.get(group, []))
        out[group] = rec
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def event_log_files(log_dir: Path) -> list[Path]:
    """The event files of the one application logged under ``log_dir``:
    Spark 4 writes a directory ``eventlog_v2_<app>`` of rolling files
    ``events_<n>_<app>``."""
    files = [p for p in log_dir.rglob("events_*") if p.is_file() and not p.name.endswith(".inprogress")]
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))
