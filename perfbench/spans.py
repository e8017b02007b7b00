"""Spans around calls into the engine's layers, with Spark's status
store read for each span.

A span sets a job group, runs the call, and afterwards reads the group's
jobs from `sc.statusTracker()` and each job's stages from the status
store (`statusStore().lastStageAttempt`). Both answer with the UI off.
Untraced, a span records only its wall time, so the end-to-end run pays
nothing for it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # status-store accessor -> (counter name, scale to the reported unit)
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def span(self, name: str):
        rec: dict = {}
        group = f"perfbench-{self._n}-{name}"
        self._n += 1
        if self.enabled:
            self.sc.setJobGroup(group, name)
        t0, e0 = time.perf_counter(), time.time()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._read(group, e0 * 1000, time.time() * 1000, rec["wall_s"]))
            # wall time including the status-store reads
            rec["traced_s"] = time.perf_counter() - t0

    def _read(self, group: str, start_ms: float, end_ms: float, wall: float) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        # job-end events reach the status store asynchronously; wait
        # briefly so the last job of the span is complete in it
        deadline = time.time() + 5
        while time.time() < deadline and any(
            (info := tracker.getJobInfo(j)) is not None and info.status == "RUNNING"
            for j in job_ids
        ):
            time.sleep(0.01)
        out = {"jobs": len(job_ids), "stages": 0}
        out.update({f: 0.0 for f, _ in STAGE_FIELDS.values()})
        intervals = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                out["stages"] += 1
                for accessor, (field, scale) in STAGE_FIELDS.items():
                    out[field] += getattr(sd, accessor)() * scale
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
        out["driver_gap_s"] = max(0.0, wall - _covered(intervals, start_ms, end_ms) / 1000)
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total
