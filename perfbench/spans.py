"""Spans recorded from outside the program, around each call into a layer.

A span has a name, start, end, parent and run id. With tracing on, each span
also runs its Spark jobs under a job group of its own and, when it ends,
reads the jobs, stages, tasks and failed tasks of that group from the public
``SparkContext.statusTracker()`` API. A parent's counts include its
children's. Spans stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_TERMINAL = ("SUCCEEDED", "FAILED")


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body; with tracing on, attribute its Spark jobs too."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}-{rec['id']}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                rec.update(self._group_counts(group))
                for child in self.spans[rec["id"] + 1:]:
                    if child["parent"] == rec["id"]:
                        for k in ("jobs", "stages", "tasks", "failed_tasks"):
                            rec[k] += child.get(k, 0)
                if parent is not None:
                    self.sc.setJobGroup(f"{self.run_id}-{parent['id']}",
                                        parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _group_counts(self, group: str) -> dict:
        """Jobs, stages, tasks and failed tasks the group ran. Job-end
        events reach the status store asynchronously, so wait briefly
        until every job of the group is finished."""
        tracker = self.sc.statusTracker()
        deadline = time.perf_counter() + 2.0
        while True:
            jobs = [tracker.getJobInfo(j)
                    for j in tracker.getJobIdsForGroup(group)]
            jobs = [j for j in jobs if j is not None]
            if (all(j.status in _TERMINAL for j in jobs)
                    or time.perf_counter() > deadline):
                break
            time.sleep(0.01)
        stages = tasks = failed = 0
        for j in jobs:
            for sid in j.stageIds:
                info = tracker.getStageInfo(sid)
                if info is None or info.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover (children
        run sequentially, so their durations add)."""
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
