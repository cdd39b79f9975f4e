"""Span recorder and Spark event-log parser for the traced run.

Spans are recorded from outside the engine, around the benchmark's own
calls into each layer.  Each span keeps a name, a start, an end, its parent
span and the trace id of the operation it belongs to.  While a span is
open, every Spark job it submits carries the span's name as its job
description and the span id as the ``perfbench.span`` local property, so
the event log attributes each stage's task metrics to a span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """In-memory spans; disabled tracers record nothing and touch no Spark
    state, so untraced runs pay nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def _label(self, s: dict | None) -> None:
        self.sc.setJobDescription(s["name"] if s else None)
        self.sc.setLocalProperty("perfbench.span", str(s["id"]) if s else None)

    def durations(self, name: str, traces: set | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (traces is None or s["trace"] in traces)
        ]

    def root(self, span_id: int) -> dict:
        s = self.spans[span_id]
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from a finished Spark event log: the span id the
    job ran under and the summed task metrics of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = {}
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = glob.glob(f"{log_dir}/*/events_*")
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get("perfbench.span")
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "span": int(span) if span else None,
                        "stages": list(ev.get("Stage IDs", [])),
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "shuffle_write": 0,
                        "shuffle_read": 0,
                        "spill": 0,
                        "skew": 1.0,
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if not m or job is None:
                        continue
                    job["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    stage_tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    # skew: slowest task over the median task of the job's worst stage
    for job in jobs.values():
        for st in job["stages"]:
            times = stage_tasks.get(st, [])
            med = statistics.median(times) if times else 0
            if med > 0:
                job["skew"] = max(job["skew"], max(times) / med)
    for job in jobs.values():
        job["n_stages"] = sum(1 for st in job["stages"] if st in stage_tasks)
    return list(jobs.values())
