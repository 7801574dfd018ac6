"""Outside-in layer tracing for the benchmark.

A :class:`Tracer` records spans around calls into the library's public
functions. Each span runs under its own Spark job group, named
``workload/layer/run/seq`` so no two spans (or two runs) ever share one:
``statusTracker().getJobIdsForGroup`` returns every job ever tagged with a
group, so a reused name would count earlier spans' jobs again. The group is
cleared (or the enclosing span's group restored) when the span ends.

Spans stay in memory. Job, stage and task counts are read from the status
tracker once, after the run, when the listener bus has caught up; then all
spans are written out together.

Spark is lazy, so a layer's public call returns before any work runs. The
workloads therefore time a layer by forcing its *prefix pipeline* (every
layer up to and including it) with a ``noop`` sink, after clearing the
cache so no prefix reads an earlier prefix's cached frame. A layer's self
time is its prefix time minus the previous prefix's time
(:func:`prefix_self`).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNT_KEYS = ("jobs", "stages", "tasks", "failed_tasks")


def prefix_self(prefix_values: list[float]) -> list[float]:
    """Self values of nested prefixes: the first prefix's value, then each
    prefix minus the one before it. Works for walls and for counts."""
    return [v - (prefix_values[i - 1] if i else 0) for i, v in enumerate(prefix_values)]


class Tracer:
    """Span recorder. With ``enabled=False`` every span is a no-op, so the
    untraced path runs exactly the library calls and nothing else."""

    def __init__(self, spark, workload: str, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as span ``name`` under a fresh job group. Yields
        the span record (a dict the caller may add attributes to)."""
        if not self.enabled:
            yield {}
            return
        self._seq += 1
        group = f"{self.workload}/{name}/{self.run_id}/{self._seq}"
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._seq,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": group,
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def collect_counts(self, settle_s: float = 1.0) -> None:
        """Fill each span's own job/stage/task counts from the status
        tracker. Called once after the run; ``settle_s`` lets the
        asynchronous listener bus deliver the last events first. Stages
        that were skipped (their output reused) ran no tasks and are not
        counted."""
        if not self.enabled:
            return
        time.sleep(settle_s)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue
                    stages += 1
                    tasks += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    def subtree(self, rec: dict) -> dict:
        """Counts of ``rec`` plus all its descendant spans."""
        total = {k: rec.get(k, 0) for k in COUNT_KEYS}
        for child in self.spans:
            if child["parent"] == rec["id"]:
                for k, v in self.subtree(child).items():
                    total[k] += v
        return total

    def named(self, name: str) -> list[dict]:
        """Finished spans called ``name``, in the order they started."""
        return sorted((s for s in self.spans if s["name"] == name), key=lambda s: s["id"])

    def write(self, path: str) -> None:
        """Write every span as one JSON line (times relative to the first
        span's start)."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


def wall(rec: dict) -> float:
    return rec["end"] - rec["start"]
