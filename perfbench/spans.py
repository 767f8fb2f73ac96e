"""Spans and Spark job counters recorded from the benchmark's own code.

Spans (name, start, end, parent, invocation id) are kept in memory and
written once at the end. A span opened with ``group=True`` runs its Spark
work under its own job group; the job, stage and task counts of every
group are read from ``statusTracker()`` once the run is over, when the
listener bus has caught up with every job.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Callable


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, inv: str, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "inv": inv,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}" if group else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if group:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, name: str, inv: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside a grouped span; returns (result, ms)."""
        with self.span(name, inv, group=True) as rec:
            out = fn(*args, **kwargs)
        return out, ms(rec)

    def wrap(self, registry: dict, inv: str) -> dict:
        """The registry with each call recorded as a span."""

        def wrapped(name, fn):
            def call(body):
                with self.span(f"registry.{name}", inv):
                    return fn(body)

            return call

        return {name: wrapped(name, fn) for name, fn in registry.items()}

    def resolve_jobs(self) -> None:
        """Attach Spark counts to every grouped span."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            if not rec["group"]:
                continue
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in list(info.stageIds):
                    s = st.getStageInfo(sid)
                    # skipped stages report 0 completed tasks
                    if s is not None and s.numCompletedTasks > 0:
                        stages += 1
                        tasks += s.numCompletedTasks
                        failed += s.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def last(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_ms(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover."""
        return ms(rec) - sum(ms(c) for c in self.children(rec))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1000.0
