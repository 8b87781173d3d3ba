"""Span recorder for the traced run.

A span is opened around each call the benchmark makes into an engine
module: name ``<layer>.<call>``, start, end, parent span and the id of the
workload job it belongs to. Each span also carries a Spark job group, so
the Spark jobs, tasks and failed tasks a call launched are read back from
``statusTracker`` when the span closes. Spans stay in memory and are
written once, by :meth:`Tracer.dump`, when the run ends.

The untraced run never builds a Tracer; it calls :func:`null_span`, which
sets no job group and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


@contextlib.contextmanager
def null_span(name: str):
    yield None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.job_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "job": self.job_id,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._spark_counts(group))
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setJobGroup("perfbench-idle", "outside spans")

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numCompletedTasks + s.numFailedTasks
                    failed += s.numFailedTasks
        return {"spark_jobs": jobs, "spark_tasks": tasks, "spark_tasks_failed": failed}

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree_counts(self, rec: dict, key: str) -> int:
        return rec[key] + sum(self.subtree_counts(c, key) for c in self.children(rec))

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover
        (children run one after another, so their durations add)."""
        return (rec["end"] - rec["start"]) - sum(c["end"] - c["start"] for c in self.children(rec))

    def named(self, name: str, job: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (job is None or s["job"] == job)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
