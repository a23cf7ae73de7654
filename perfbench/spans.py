"""Spans around the benchmark's calls into the engine's layers.

``Recorder`` keeps one wall-clock span per call. ``StatusStoreTracer`` adds,
per call, what Spark's in-process ``AppStatusStore`` saw: jobs, tasks,
executor run time, shuffle and output bytes, failed tasks, and the wall
time no Spark job covered (``driver_s``: probe, planning, collect, numpy).
The store is read through py4j and needs no UI (``spark.ui.enabled`` is
false in ``get_spark``).

Every call gets its own job group. Jobs are attributed to a span by job
id range, not by group, because streaming micro-batches run on the
query's own thread under the query's group; the benchmark is a
single-client closed loop, so every job submitted during a span is that
span's work. Spans live in memory until the run prints its result.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# what a traced span records besides its wall time
SPAN_COUNTERS = (
    "driver_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "output_bytes",
    "failed_tasks",
)


class Recorder:
    """Wall time of each span of the current pass.

    ``call`` re-runs a repeatable call whose time is under ``floor_s`` on the
    same input until its runs add up to ``floor_s`` or ``MAX_RUNS``, and keeps
    the median: a sub-second call timed once is dominated by scheduling
    noise. A call that left a persisted RDD behind is not re-run, because
    the next run would read that cache instead of doing the work.
    ``floor_s=0`` runs every call once.
    """

    MAX_RUNS = 3

    def __init__(self, spark, floor_s: float = 0.0):
        self.sc = spark.sparkContext
        self.floor_s = floor_s
        self.spans: list[dict] = []

    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def call(self, layer: str, fn, repeat: bool = True, undo=None):
        """Run ``fn`` (one engine call that consumes its result) in a span
        of ``layer`` and return what the last run returned. ``undo``, when
        given, releases what a run persisted on purpose before the next run."""
        walls = []
        cached = self._persisted()
        while True:
            with self.span(layer):
                out = fn()
            walls.append(self.spans[-1]["wall_s"])
            if not repeat or sum(walls) >= self.floor_s or len(walls) >= self.MAX_RUNS:
                break
            if undo is not None:
                undo()
            elif self._persisted() > cached:
                break
            self.spans.pop()
        self.spans[-1].update(wall_s=statistics.median(walls), runs=len(walls))
        return out

    def take(self) -> list[dict]:
        """Return the spans recorded since the last take and forget them."""
        out, self.spans = self.spans, []
        return out

    @contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"layer": layer, "wall_s": time.perf_counter() - t0})


class StatusStoreTracer(Recorder):
    """Recorder that also diffs the status store around each span."""

    def __init__(self, spark):
        super().__init__(spark)
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.next_job = self._scan_jobs(0)[1]
        self.n = 0

    def _drain(self) -> None:
        self.bus.waitUntilEmpty(120_000)

    def _scan_jobs(self, start: int) -> tuple[list, int]:
        """Jobs with ids from ``start`` up to the first id not yet seen."""
        jobs, j = [], start
        while True:
            try:
                jobs.append(self.store.job(j))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs, j
            j += 1

    @contextmanager
    def span(self, layer: str):
        self.n += 1
        self._drain()
        self.sc.setJobGroup(f"perfbench-{self.n}-{layer}", layer)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - p0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._drain()
            jobs, self.next_job = self._scan_jobs(self.next_job)
            rec = self._summarize(jobs, t0 * 1000.0, (t0 + wall) * 1000.0)
            rec["driver_s"] = max(0.0, wall - rec.pop("_covered_s"))
            rec.update(layer=layer, wall_s=wall)
            self.spans.append(rec)

    def _summarize(self, jobs: list, lo_ms: float, hi_ms: float) -> dict:
        out = dict.fromkeys(SPAN_COUNTERS, 0)
        out["executor_run_s"] = 0.0
        out["jobs"] = len(jobs)
        intervals, stages = [], set()
        for jd in jobs:
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() if sub.isDefined() else lo_ms
            end = done.get().getTime() if done.isDefined() else hi_ms
            intervals.append((max(start, lo_ms), min(end, hi_ms)))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage that never ran
                continue
            sub = sd.submissionTime()
            # a stage skipped here but computed by an earlier span keeps
            # that span's metrics: count only stages that ran in this one
            if not sub.isDefined() or sub.get().getTime() < lo_ms:
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["output_bytes"] += sd.outputBytes()
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(intervals):
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out["_covered_s"] = max(0.0, covered) / 1000.0
        return out
