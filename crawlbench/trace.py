"""Spans, Spark job attribution and the event-log reader of the traced run.

Each span records its name, start, end and parent, and is kept in memory
until the run ends.  Entering a span sets a Spark job group named after
it, so every job the layer starts is attributed to it:

* jobs, stages, tasks and failed tasks come from ``statusTracker()``;
* shuffle bytes come from the event log, which only the traced run turns
  on, read after the session has stopped (the log is complete then).

A span's self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .procfs import ProcessTree, cpu_delta


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu: dict = field(default_factory=dict)   # procfs.ProcessTree.cpu split

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, tree: ProcessTree | None = None):
        self.sc = spark.sparkContext
        self.tree = tree or ProcessTree()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        """Time a layer call; its Spark jobs run under job group ``name``."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(name, name, False)
        c0 = self.tree.cpu()
        try:
            yield sp
        finally:
            sp.cpu = cpu_delta(c0, self.tree.cpu())
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.name, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self, sp: Span) -> float:
        return sp.seconds - sum(c.seconds for c in self.spans
                                if c.parent == sp.id)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def seconds(self, name: str) -> float:
        """Total duration of every span called ``name``."""
        return sum(s.seconds for s in self.named(name))

    def tree_lines(self) -> list[str]:
        """The span tree, indented, with duration and self time."""
        depth = {}
        out = []
        for sp in self.spans:
            depth[sp.id] = 0 if sp.parent is None else depth[sp.parent] + 1
            out.append(f"{'  ' * depth[sp.id]}{sp.name:24s} "
                       f"{sp.seconds:8.3f} s  self {self.self_seconds(sp):7.3f} s")
        return out

    def dump(self, path: str) -> None:
        """Write the spans out as JSON lines."""
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "cpu": sp.cpu}) + "\n")


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks run and tasks failed under a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = ran = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is None:
            continue
        if info.numCompletedTasks or info.numFailedTasks:
            ran += 1   # a stage skipped on shuffle reuse runs no task
        tasks += info.numCompletedTasks + info.numFailedTasks
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
            "failed_tasks": failed}


def shuffle_bytes_by_group(event_log_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, from the event log of the
    (stopped) session.  A stage belongs to the group of the job that ran
    it."""
    stage_group: dict[int, str] = {}
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    written = ((ev.get("Task Metrics") or {})
                               .get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0)
                    if group is not None:
                        out[group] = out.get(group, 0) + written
    return out
