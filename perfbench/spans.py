"""Spans around the benchmark's calls into the engine, and Spark jobs
attached to them from Spark's own event log.

The benchmark opens a span around each call into an engine layer and
sets the span's label as the Spark job description before the call, so
every job the call submits carries it (pyspark's pinned-thread mode
also hands it to the engine's job-group-inheriting helper threads).
Jobs submitted from threads the benchmark does not own, such as
Structured Streaming's micro-batch thread, are attached by time to the
innermost span that was open when they were submitted.

A span's self time is its duration minus the part of that interval its
children cover; for a span whose children are Spark jobs, the uncovered
part is the driver gap: planning, manifest I/O and Python between jobs.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    label: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    depth: int = 0
    jobs: list["Job"] = field(default_factory=list)
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    start: float
    end: float = 0.0
    desc: str = ""
    call_site: str = ""
    stage_ids: list[int] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    input_records: int = 0
    spill_bytes: int = 0


class Tracer:
    """Records spans in memory; Spark jobs are attached after the run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{name}#{len(self.spans)}", parent, time.time(),
                 depth=len(self._stack))
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(s.label)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent.label if parent else None)

    def named(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called ``name``, optionally only those inside a span
        called ``under``."""
        def inside(s: Span) -> bool:
            p = s.parent
            while p is not None and p.name != under:
                p = p.parent
            return p is not None

        return [s for s in self.spans if s.name == name and (under is None or inside(s))]


# -- event log -----------------------------------------------------------------

def _event_files(log_dir: str) -> list[str]:
    """Rolling logs are ``eventlog_v2_<app>/events_<n>_<app>``; a plain
    log is one file per app. Order rolled files by their index."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")]

    def key(f: str):
        b = os.path.basename(f)
        parts = b.split("_")
        idx = int(parts[1]) if b.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(f), idx, b)

    return sorted(files, key=key)


def load_jobs(log_dir: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut by the rolling writer
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                            desc=props.get("spark.job.description") or "",
                            call_site=props.get("callSite.short") or "",
                            stage_ids=list(ev.get("Stage IDs") or []))
                    jobs[j.job_id] = j
                    for sid in j.stage_ids:
                        stage_job.setdefault(sid, j.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    j = jobs.get(stage_job.get(info["Stage ID"], -1))
                    if j is not None and "Submission Time" in info:
                        j.stages[info["Stage ID"]] = {
                            "name": info.get("Stage Name", ""),
                            "tasks": info.get("Number of Tasks", 0),
                            "start": info["Submission Time"] / 1000.0,
                            "end": info.get("Completion Time", info["Submission Time"]) / 1000.0,
                        }
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.tasks += 1
                    j.run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    j.shuffle_write_records += sw.get("Shuffle Records Written", 0)
                    j.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    j.spill_bytes += m.get("Disk Bytes Spilled", 0)
    out = [j for j in jobs.values() if j.end]
    return sorted(out, key=lambda j: j.start)


def attach(tracer: Tracer, jobs: list[Job]) -> None:
    """Give each job to the span whose label it carries, else to the
    innermost span open at its submission."""
    by_label = {s.label: s for s in tracer.spans}
    for j in jobs:
        s = by_label.get(j.desc)
        if s is None:
            open_ = [s for s in tracer.spans if s.start <= j.start <= s.end]
            if not open_:
                continue
            s = max(open_, key=lambda s: s.depth)
        s.jobs.append(j)


# -- rollups ---------------------------------------------------------------------

def covered(intervals, lo: float, hi: float) -> float:
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


def all_jobs(s: Span) -> list[Job]:
    out = list(s.jobs)
    for c in s.children:
        out += all_jobs(c)
    return out


def rollup(spans: list[Span]) -> dict[str, float]:
    """Spark counters summed over every job under ``spans``."""
    jobs = [j for s in spans for j in all_jobs(s)]
    dur = sum(s.dur for s in spans)
    busy = sum(covered([(j.start, j.end) for j in all_jobs(s)], s.start, s.end)
               for s in spans)
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.run_s for j in jobs),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "shuffle_write_records": sum(j.shuffle_write_records for j in jobs),
        "input_records": sum(j.input_records for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "driver_gap_s": dur - busy,
    }


def is_envelope(j: Job) -> bool:
    """``process_batch``'s per-partition envelope aggregate is collected
    on a helper thread; its call site is that thread's entry point."""
    return "threading.py" in j.call_site


def batch_split(s: Span) -> dict[str, float]:
    """Split one ``process_batch`` span into the envelope job, the write
    path (every other job: the LWW map stage, the reduce-and-write stage
    and any auto-compaction) and the driver gap. The three parts tile
    the span: envelope time counts only where no write job runs."""
    jobs = all_jobs(s)
    write = [(j.start, j.end) for j in jobs if not is_envelope(j)]
    every = [(j.start, j.end) for j in jobs]
    write_s = covered(write, s.start, s.end)
    busy = covered(every, s.start, s.end)
    env = [(j.start, j.end) for j in jobs if is_envelope(j)]
    return {
        "envelope_job_s": covered(env, s.start, s.end),
        "envelope_only_s": busy - write_s,
        "write_job_s": write_s,
        "driver_gap_s": s.dur - busy,
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
    }


def render(tracer: Tracer, max_jobs: int = 12) -> str:
    """Indented span tree: duration, self time, and each attached job
    with its stages (durations in seconds)."""
    lines = []

    def walk(s: Span) -> None:
        pad = "  " * s.depth
        kids = [(c.start, c.end) for c in s.children] + [(j.start, j.end) for j in s.jobs]
        self_s = s.dur - covered(kids, s.start, s.end)
        lines.append(f"{pad}{s.name}  dur={s.dur:.3f}  self={self_s:.3f}")
        if s.name in ("process_batch", "stream") and s.jobs:
            b = batch_split(s)
            lines.append(f"{pad}  = envelope_only {b['envelope_only_s']:.3f} + write "
                         f"{b['write_job_s']:.3f} + driver_gap {b['driver_gap_s']:.3f}")
        for j in s.jobs[:max_jobs]:
            stages = ", ".join(f"{v['name'].split(' at ')[0]}[{v['tasks']}]={v['end'] - v['start']:.3f}"
                               for _, v in sorted(j.stages.items()))
            lines.append(f"{pad}  job {j.job_id} {j.call_site!r} {j.end - j.start:.3f}: {stages}")
        if len(s.jobs) > max_jobs:
            lines.append(f"{pad}  ... {len(s.jobs) - max_jobs} more jobs")
        for c in s.children:
            walk(c)

    for s in tracer.spans:
        if s.parent is None:
            walk(s)
    return "\n".join(lines)
