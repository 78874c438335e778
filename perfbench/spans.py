"""Spans around the benchmark's calls into the engine, and Spark event-log
counts attributed to them.

A span has a name, a start, an end, a parent and free attributes; spans
stay in memory until the run ends. Spark jobs are attributed by submission
time: a job counts toward every span whose interval holds the moment it
was submitted, so a span's counts include its children's. Nothing here
depends on job groups or descriptions set inside the program.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    attrs: dict = field(default_factory=dict)
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer only yields None."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), self._stack[-1] if self._stack else None, attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str, **attrs) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def attribute(self, jobs: list[dict]) -> None:
        """Add event-log job counts to every span that holds the job's
        submission time."""
        keys = ("jobs", "stages", "tasks", "cpu_s", "shuffle_read_mb", "shuffle_write_mb", "written_mb")
        for s in self.spans:
            s.counts = dict.fromkeys(keys, 0)
            for j in jobs:
                if s.start <= j["submitted"] <= s.end:
                    s.counts["jobs"] += 1
                    for k in keys[1:]:
                        s.counts[k] += j[k]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "attrs": s.attrs,
                        "counts": s.counts,
                    }
                    for i, s in enumerate(self.spans)
                ],
                f,
                indent=1,
            )


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job totals from the Spark event log files in ``log_dir``.

    A stage counts toward the first job that lists it and only if it ran
    (a StageCompleted without a failure reason); tasks, executor CPU and
    bytes come from TaskEnd metrics of those stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran: set[int] = set()
    task_totals: dict[int, dict] = {}
    # rolling (v2) logs are a directory of events_* files next to an
    # appstatus_* marker and .crc checksums; a v1 log is one plain file
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(log_dir)
        for n in names
        if not n.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submitted": ev["Submission Time"] / 1000.0}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" not in info:
                        ran.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = task_totals.setdefault(
                        ev["Stage ID"], {"tasks": 0, "cpu_ns": 0, "sr": 0, "sw": 0, "w": 0}
                    )
                    t["tasks"] += 1
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    t["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    t["sw"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    t["w"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for j in jobs.values():
        j.update(stages=0, tasks=0, cpu_s=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0, written_mb=0.0)
    for sid, jid in stage_job.items():
        if sid not in ran or jid not in jobs:
            continue
        j, t = jobs[jid], task_totals.get(sid, {"tasks": 0, "cpu_ns": 0, "sr": 0, "sw": 0, "w": 0})
        j["stages"] += 1
        j["tasks"] += t["tasks"]
        j["cpu_s"] += t["cpu_ns"] / 1e9
        j["shuffle_read_mb"] += t["sr"] / 1e6
        j["shuffle_write_mb"] += t["sw"] / 1e6
        j["written_mb"] += t["w"] / 1e6
    return list(jobs.values())
