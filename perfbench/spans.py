"""Spans around calls into the validator, with the Spark work of each span.

A span is one call into a layer's public function, timed from outside the
package. When tracing is on, the span id is also the Spark job group of
every job the call submits, so after the call the benchmark reads that
group's jobs, their stages and every task of those stages from the live
status store. Per-task lists are used, not the executor summary, which lags
the tasks it sums.

Spans stay in memory; ``Tracer.dump`` writes them once at the end of a run.
With tracing off a span only measures its wall time: no job group is set
and no metric is read.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0


def _new_work() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        "max_task_s": 0.0, "widest_stage_tasks": 0, "task_skew": 0.0,
    }


def merge_work(works: list[dict]) -> dict:
    """Sum of several spans' Spark work; skew comes from the widest stage."""
    out = _new_work()
    for w in works:
        for k in ("jobs", "stages", "tasks", "task_s", "gc_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            out[k] += w[k]
        out["max_task_s"] = max(out["max_task_s"], w["max_task_s"])
        if w["widest_stage_tasks"] > out["widest_stage_tasks"]:
            out["widest_stage_tasks"] = w["widest_stage_tasks"]
            out["task_skew"] = w["task_skew"]
    return out


class Tracer:
    """Records spans for one run. ``enabled`` switches the Spark attribution
    on; a disabled tracer is what the untraced end-to-end runs use."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []  # ended spans whose work is unread
        self._next = 0

    @contextmanager
    def span(self, name: str, extra_groups=None):
        """Time the body as one span. ``extra_groups`` is a callable returning
        further job groups whose jobs belong to this span (a streaming query
        runs its micro-batches under its own run id)."""
        self._next += 1
        sp = {
            "id": f"{self.run_id}.{self._next}", "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
        }
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sp["id"], name)
        self._stack.append(sp)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self.enabled:
                self._close(sp, extra_groups)

    def _close(self, sp: dict, extra_groups) -> None:
        sc = self.spark.sparkContext
        sp["groups"] = [sp["id"]] + list(extra_groups() if extra_groups else [])
        self._pending.append(sp)
        if self._stack:
            sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            return
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the Spark work is read once the outermost span has ended, so no
        # span's wall includes the reading
        for p in self._pending:
            p["work"] = self._read_work(p.pop("groups"))
        self._pending.clear()

    def _read_work(self, groups: list[str]) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # task-end events reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        w = _new_work()
        for g in groups:
            for job_id in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                w["jobs"] += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is None or st.numTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    durations = []
                    it = store.taskList(stage_id, st.currentAttemptId, 1 << 20).iterator()
                    while it.hasNext():
                        t = it.next()
                        tm = t.taskMetrics()
                        if not tm.isDefined():
                            continue
                        m = tm.get()
                        run_s = m.executorRunTime() / 1000.0
                        durations.append(run_s)
                        w["task_s"] += run_s
                        w["gc_s"] += m.jvmGcTime() / 1000.0
                        w["shuffle_write_mb"] += m.shuffleWriteMetrics().bytesWritten() / MB
                        r = m.shuffleReadMetrics()
                        w["shuffle_read_mb"] += (r.localBytesRead() + r.remoteBytesRead()) / MB
                        w["spill_mb"] += (m.memoryBytesSpilled() + m.diskBytesSpilled()) / MB
                    if not durations:
                        continue
                    w["stages"] += 1
                    w["tasks"] += len(durations)
                    w["max_task_s"] = max(w["max_task_s"], max(durations))
                    if len(durations) > w["widest_stage_tasks"]:
                        w["widest_stage_tasks"] = len(durations)
                        med = statistics.median(durations)
                        w["task_skew"] = max(durations) / med if med > 0 else 1.0
        return w

    def self_time(self, sp: dict) -> float:
        """The span's duration minus the part its child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == sp["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp["start"]), min(e, sp["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def dump(self, path: str, extra: dict) -> None:
        for sp in self.spans:
            sp["self_s"] = self.self_time(sp)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f, indent=1)
