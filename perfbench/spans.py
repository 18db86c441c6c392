"""Spans recorded around the benchmark's calls into the package, and the
offline Spark event-log parse that attributes Spark work to them.

A :class:`Tracer` keeps every span in memory.  With tracing on, entering
a span also sets the Spark job group of the calling thread to the span's
id, so every job that thread submits is tagged.  After the session has
stopped, :func:`attribute_event_log` reads Spark's own (uncompressed,
non-rolling) event log and charges each job to a span: by its job group
when it has one, otherwise to the innermost span open when the job was
submitted (jobs submitted from a pool thread inside the package carry no
group).
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    depth: int
    start: float  # epoch seconds
    end: float = 0.0
    cpu: float = 0.0  # CPU seconds of the run's processes inside the span
    counts: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  ``enabled=False`` still times spans (the untraced
    run needs the same durations) but never touches Spark.  ``cpu_clock``
    returns the CPU seconds used so far by the processes being measured;
    the caller sets it once those processes exist."""

    def __init__(self, enabled: bool = False):
        self._sc = None
        self.enabled = enabled
        self.cpu_clock = lambda: 0.0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0  # time spent setting job groups

    def bind(self, spark_context) -> None:
        self._sc = spark_context

    def _set_group(self, span: Span | None) -> None:
        if not self.enabled or self._sc is None:
            return
        t0 = time.perf_counter()
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.id, span.name)
        self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, layer: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(
                id=f"s{len(self.spans)}",
                name=name,
                layer=layer,
                parent=parent.id if parent else None,
                depth=len(self._stack),
                start=time.time(),
            )
            self.spans.append(sp)
            self._stack.append(sp)
        self._set_group(sp)
        cpu0 = self.cpu_clock()
        try:
            yield sp
        finally:
            sp.cpu = self.cpu_clock() - cpu0
            sp.end = time.time()
            with self._lock:
                self._stack.pop()
            self._set_group(parent)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part covered by its child spans."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - _union_length(children.get(s.id, [])) for s in spans
    }


SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


def _empty_counts() -> dict:
    return {k: 0 for k in SPARK_KEYS}


def read_event_log(path: str) -> tuple[dict, dict, dict]:
    """Parse an uncompressed JSON-lines event log into
    (jobs: id -> {group, submit, end, stages}, stage_job: stage -> job,
    stage_tasks: stage -> summed task metrics)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                jid = stage_job.get(sid)
                if jid is not None and jid in jobs:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                acc = stage_tasks.setdefault(sid, _empty_counts())
                acc["tasks"] += 1
                acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                om = m.get("Output Metrics") or {}
                acc["output_bytes"] += om.get("Bytes Written", 0)
    return jobs, stage_job, stage_tasks


def attribute_event_log(path: str, spans: list[Span]) -> dict:
    """Charge every job of the event log to one span, filling each span's
    ``counts`` and ``job_intervals``.  Returns how many jobs the log holds
    and how many fell in no span (the set-up scans)."""
    jobs, stage_job, stage_tasks = read_event_log(path)
    by_id = {s.id: s for s in spans}
    for s in spans:
        s.counts = _empty_counts()
    job_span: dict[int, Span] = {}
    unattributed = 0
    for jid, job in jobs.items():
        sp = by_id.get(job["group"]) if job["group"] else None
        if sp is None:
            # innermost span open at submit time
            open_ = [s for s in spans if s.start <= job["submit"] <= s.end]
            sp = max(open_, key=lambda s: s.depth) if open_ else None
        if sp is None:
            unattributed += 1
            continue
        job_span[jid] = sp
        sp.counts["jobs"] += 1
        sp.counts["stages"] += job["stages"]
    for sid, acc in stage_tasks.items():
        sp = job_span.get(stage_job.get(sid))
        if sp is None:
            continue
        for k, v in acc.items():
            sp.counts[k] += v
    for jid, sp in job_span.items():
        j = jobs[jid]
        if j["end"] is not None:
            sp.job_intervals.append((j["submit"], j["end"]))
    return {"unattributed_jobs": unattributed, "jobs_total": len(jobs)}


def subtree(spans: list[Span], roots: list[Span]) -> list[Span]:
    """``roots`` and all their descendants."""
    ids = {r.id for r in roots}
    for s in spans:  # spans are recorded parent-first
        if s.parent in ids:
            ids.add(s.id)
    return [s for s in spans if s.id in ids]


def rollup(spans: list[Span], roots: list[Span], cores: int) -> dict:
    """Spark totals over ``roots`` and their descendants.  The driver
    gap is the roots' wall not covered by any job of the subtree; core
    utilisation is executor run time over the roots' wall times cores."""
    tot = _empty_counts()
    sub = subtree(spans, roots)
    for s in sub:
        for k in SPARK_KEYS:
            tot[k] += s.counts.get(k, 0)
    ivs = [iv for s in sub for iv in s.job_intervals]
    wall = sum(r.wall for r in roots)
    covered = sum(
        _union_length(
            [(max(a, r.start), min(b, r.end)) for a, b in ivs if b > r.start and a < r.end]
        )
        for r in roots
    )
    tot["driver_gap_s"] = max(0.0, wall - covered)
    tot["core_util"] = tot["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return tot
