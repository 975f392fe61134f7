"""Spans around the benchmark's calls into the program.

A span records a name, a layer, a kind, its parent and its wall-clock
interval. Spans are always timed (the end-to-end metrics are built
from them). With tracing on, every leaf span (kind ``call`` or
``action``) also runs under its own Spark job group, and right after
it ends the tracer reads that group's jobs and stages from Spark's
status store: job count, task count, executor run time, shuffle and
spill bytes, failed tasks, and the span time not covered by any job
(the driver gap). The status store works with the UI disabled.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

LEAF_KINDS = ("call", "action")
COUNTERS = ("jobs", "tasks", "task_s", "shuffle_mb", "spill_mb", "failed_tasks")
_MB = float(1 << 20)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.spark = None

    @contextmanager
    def span(self, name: str, kind: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "kind": kind,
            "layer": layer or (parent["layer"] if parent else None),
            "start": time.time(),
        }
        harvest = self.enabled and self.spark is not None and kind in LEAF_KINDS
        if harvest:
            group = f"perfbench-{s['id']}"
            self.spark.sparkContext.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)
            if harvest:
                self.spark.sparkContext._jsc.clearJobGroup()
                s.update(self._harvest(group, s["start"], s["end"]))

    def _harvest(self, group: str, start: float, end: float) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        intervals, stages = [], set()
        for jid in sc._jsc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                lo = sub.get().getTime() / 1000.0
                hi = done.get().getTime() / 1000.0 if done.isDefined() else end
                intervals.append((max(lo, start), min(hi, end)))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a stage the store never saw submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
        out["driver_gap_s"] = (end - start) - _union_s([i for i in intervals if i[1] > i[0]])
        return out

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def unattributed_s(self, span: dict) -> float:
        """Wall time of ``span`` not covered by its child spans."""
        kids = [(c["start"], c["end"]) for c in self.children(span["id"])]
        return (span["end"] - span["start"]) - _union_s(kids)


def layer_metrics(tracer: Tracer, pass_ids: list[int], layers: tuple[str, ...]) -> dict:
    """Per-pass means of each layer's leaf-span metrics over the
    passes ``pass_ids``."""
    inside: set[int] = set(pass_ids)
    for s in sorted(tracer.spans, key=lambda s: s["id"]):
        if s["parent"] in inside:
            inside.add(s["id"])
    per = {L: dict.fromkeys(("call_s", "action_s", "driver_gap_s") + COUNTERS, 0.0) for L in layers}
    for s in tracer.spans:
        if s["id"] not in inside or s["kind"] not in LEAF_KINDS:
            continue
        m = per[s["layer"]]
        m[f"{s['kind']}_s"] += s["end"] - s["start"]
        for k in COUNTERS + ("driver_gap_s",):
            m[k] += s.get(k, 0.0)
    n = max(1, len(pass_ids))
    return {f"{L}.{k}": v / n for L, m in per.items() for k, v in m.items()}
