"""Spans around layer calls and Spark stage metrics per job group.

Used only in traced runs (``--trace 1``). A span records name, start,
end, parent span and op id; spans stay in memory and are written out
at the end with each span's self time (its duration minus the part of
it that its child spans cover).

A span opened with ``group=True`` runs its Spark jobs under a job group
of its own. Its stage metrics are read per group through the status
tracker (job ids of the group, then each job's stages), so they do not
depend on whole-store totals, which shrink once
``spark.ui.retainedStages`` evicts old stages.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

GROUP_PROPERTY = "spark.jobGroup.id"

STAGE_FIELDS = {
    # name: (StageData accessor, scale to the reported unit)
    "tasks": ("numTasks", 1),
    "run_ms": ("executorRunTime", 1),
    "executor_cpu_ms": ("executorCpuTime", 1e-6),
    "gc_ms": ("jvmGcTime", 1),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "fetch_wait_ms": ("shuffleFetchWaitTime", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}


class Tracer:
    """Span recorder; a disabled tracer yields ``None`` and records
    nothing, so untraced runs pay only a context-manager call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        if enabled:
            self._sc = spark.sparkContext
            self._tracker = self._sc.statusTracker()
            self._store = self._sc._jsc.sc().statusStore()

    @contextmanager
    def span(self, name: str, op_id: str | None = None, group: bool = False, window: bool = False):
        """``group``: stage metrics of the jobs run under a job group set
        for this span. ``window``: of every job submitted while the span
        was open, which also catches jobs that other threads run under
        their own group (a streaming query's micro-batches); only exact
        when nothing else runs concurrently."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "op": op_id if op_id is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
        }
        gid = f"perfbench-{rec['id']}" if group else None
        if gid:
            prev_gid = self._sc.getLocalProperty(GROUP_PROPERTY)
            self._sc.setJobGroup(gid, name)
        self._stack.append(rec)
        wall0 = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if gid:
                self._sc.setLocalProperty(GROUP_PROPERTY, prev_gid)
                rec["stages"] = self.job_metrics(list(self._tracker.getJobIdsForGroup(gid)))
            elif window:
                rec["stages"] = self.job_metrics(self._jobs_since(wall0))

    def _jobs_since(self, wall_s: float) -> list[int]:
        """Ids of the jobs submitted at or after ``wall_s`` (epoch s)."""
        since_ms, out = wall_s * 1000.0, []
        it = self._store.jobsList(self._sc._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():  # newest first
            j = it.next()
            t = j.submissionTime()
            if t.isDefined() and t.get().getTime() < since_ms:
                break
            out.append(j.jobId())
        return out

    def job_metrics(self, jobs: list[int], timeout_s: float = 10.0) -> dict:
        """Stage metrics summed over the stages of ``jobs`` (skipped
        stages contribute nothing)."""
        deadline = time.monotonic() + timeout_s
        stage_ids: set[int] = set()
        for j in jobs:
            # the status store is fed asynchronously by the listener
            # bus; a job's stage metrics are final once it has ended
            while True:
                info = self._tracker.getJobInfo(j)
                if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                    break
                if time.monotonic() > deadline:
                    break
                time.sleep(0.002)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = len(jobs)
        out["stages"] = 0
        for s in stage_ids:
            d = self._store.lastStageAttempt(s)
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for k, (acc, scale) in STAGE_FIELDS.items():
                out[k] += getattr(d, acc)() * scale
        return out


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with ``dur_s`` and ``self_s``: the duration minus the
    union of its children's intervals."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        dur = s["end"] - s["start"]
        out.append({**s, "dur_s": dur, "self_s": dur - covered})
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, dict]:
    """Total duration, self time and count per span name."""
    agg: dict[str, dict] = {}
    for s in self_times(spans):
        a = agg.setdefault(s["name"], {"count": 0, "dur_s": 0.0, "self_s": 0.0})
        a["count"] += 1
        a["dur_s"] += s["dur_s"]
        a["self_s"] += s["self_s"]
    return agg
