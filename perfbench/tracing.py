"""Spans for the traced run and the Spark event-log reader that attributes
task metrics to them.

A span is ``(name, start, end, parent, run_id)``, kept in memory and
written once at exit. Every span opens its own Spark job group (the span id
is the group id), so each task in the event log belongs to exactly one
span: the innermost one open when its stage was submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    run_id: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and points the Spark job group at the open one."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _set_group(self) -> None:
        if self._open:
            top = self._open[-1]
            self.sc.setJobGroup(top.id, top.name)
        else:
            self.sc.setJobGroup("none", "none")

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(f"s{len(self.spans)}", name, time.monotonic(),
                 parent=parent, run_id=self.run_id)
        self.spans.append(s)
        self._open.append(s)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._open.pop()
            self._set_group()

    def self_time(self, span: Span) -> float:
        """The span's wall minus the part its child spans cover (children
        run one after another, so their walls add)."""
        covered = sum(c.wall for c in self.spans if c.parent == span.id)
        return span.wall - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s) | {"self": self.self_time(s)}) + "\n")


@dataclass
class GroupStats:
    """Task metrics of one job group, summed over its tasks."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_written: int = 0
    bytes_written: int = 0
    # per stage: executor run times of its tasks, for the skew ratio
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: GroupStats) -> None:
        for k in ("jobs", "tasks", "failed_tasks", "task_s", "gc_s",
                  "shuffle_bytes", "spill_bytes", "records_written",
                  "bytes_written"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.stage_task_s.update(other.stage_task_s)

    def task_skew(self) -> float:
        """max/median task time of the most skewed stage with >= 2 tasks."""
        worst = 1.0
        for times in self.stage_task_s.values():
            med = statistics.median(times)
            if len(times) >= 2 and med > 0:
                worst = max(worst, max(times) / med)
        return worst


def event_log_file(log_dir: str) -> str:
    """The one event-log file the session wrote under ``log_dir`` (a v2
    log directory also holds an empty app-status marker)."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event-log file, found {files}")
    return files[0]


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Job group id -> task metrics summed over the group's tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}

    def group(g: str | None) -> GroupStats:
        return out.setdefault(g or "none", GroupStats())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group((ev.get("Properties") or {}).get("spark.jobGroup.id")).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or "none"
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = group(stage_group.get(sid))
                g.tasks += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    g.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1000
                g.task_s += run_s
                g.gc_s += m.get("JVM GC Time", 0) / 1000
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                om = m.get("Output Metrics") or {}
                g.records_written += om.get("Records Written", 0)
                g.bytes_written += om.get("Bytes Written", 0)
                g.stage_task_s.setdefault(sid, []).append(run_s)
    return out
