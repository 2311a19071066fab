"""Spans recorded around the benchmark's calls into the engine, and Spark's
job, stage and task counters attributed to them.

Spans live in memory: name, start, end (wall clock, epoch seconds) and the
span that caused them. With tracing off every ``span`` is a no-op, so the
untraced run times the same code.

Spark counters come from the event log Spark writes when
``spark.eventLog.enabled`` is set (the traced run only). After the session
stops, each job is attributed to the top-level span whose interval holds
its submission time; the benchmark drives the engine from one thread
outside its concurrent phase, so a job's submission time names the call
that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._open[-1] if self._open else None)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self.spans.append(s)

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    task_wait_s: float = 0.0
    worst_stage_skew: float = 0.0


def read_event_log(event_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(event_dir, "*")))
    events = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def job_stats_by_span(events: list[dict], spans: list[Span]) -> dict[int, JobStats]:
    """{id(span): JobStats} for the given top-level spans."""
    spans = sorted(spans, key=lambda s: s.start)
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stage_tasks: dict[int, list[float]] = {}
    out: dict[int, JobStats] = {id(s): JobStats() for s in spans}

    def owner(t_ms: float) -> int | None:
        t = t_ms / 1000.0
        for s in spans:
            if s.start <= t <= s.end:
                return id(s)
        return None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = owner(ev["Submission Time"])
            if sid is None:
                continue
            job_span[ev["Job ID"]] = sid
            out[sid].jobs += 1
            for st in ev["Stage IDs"]:
                stage_job[st] = ev["Job ID"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = stage_job.get(info["Stage ID"])
            if job in job_span:
                out[job_span[job]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job not in job_span:
                continue
            st = out[job_span[job]]
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            run_s = metrics.get("Executor Run Time", 0) / 1000.0
            st.tasks += 1
            st.task_s += run_s
            st.input_bytes += (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            submitted = stage_submit.get(ev["Stage ID"])
            if submitted:
                st.task_wait_s += max(0.0, (info["Launch Time"] - submitted) / 1000.0)
            stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)
    for stage, times in stage_tasks.items():
        job = stage_job.get(stage)
        med = statistics.median(times)
        if job in job_span and len(times) > 1 and med > 0:
            st = out[job_span[job]]
            st.worst_stage_skew = max(st.worst_stage_skew, max(times) / med)
    return out
