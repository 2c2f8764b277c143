"""Spans and Spark counters for the traced run.

A span is recorded around each call the benchmark makes into a layer
(name, start, end, parent). Spans stay in memory until the run ends.
Every span also runs under its own Spark job group, so the jobs a call
fires are read back from Spark's status store by group id, never by
list position (the store keeps only the last 1000 jobs).
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

GROUP_PROP = "spark.jobGroup.id"
STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


class Tracer:
    """In-memory span recorder. ``span`` nests; the innermost open span
    owns the Spark jobs fired while it is open."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP_PROP, self._stack[-1]["group"] if self._stack else None
            )

    def tree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        out, frontier = [root], {root["id"]}
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def spark_counters(self, spans: list[dict]) -> None:
        """Attach each span's Spark job and stage counters (``rec["spark"]``)
        from the status store. Call right after the spans close, before
        another 1000 jobs run."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for s in spans:
            c = defaultdict(float)
            for job_id in tracker.getJobIdsForGroup(s["group"]):
                c["jobs"] += 1
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else []:
                    if stage_id in seen:
                        continue
                    seen.add(stage_id)
                    st = store.lastStageAttempt(stage_id)
                    if str(st.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    for key, (attr, scale) in STAGE_FIELDS.items():
                        c[key] += getattr(st, attr)() * scale
            s["spark"] = dict(c)


def span_of(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or nothing when the run is untraced."""
    return tracer.span(name) if tracer is not None else nullcontext()


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of it
    covered by its direct children (children never overlap: one thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["t1"] - s["t0"]
    out = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["t1"] - s["t0"] - child[s["id"]]
    return dict(out)
