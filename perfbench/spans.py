"""Per-layer spans read from Spark's own status store.

A span wraps one call the benchmark makes into a layer's public function.
On entry it sets a Spark job group; on exit it waits for the listener bus
to drain and reads, from ``SparkContext.statusStore()``, the jobs of that
group plus every job without a group that was submitted inside the span's
time window. The second rule catches jobs started from package threads
(``streaming.ingest._run_overlapped`` runs the two store inserts on a
thread pool, and Spark's job group is a thread-local that pool threads do
not inherit). The benchmark calls layers from one thread, one at a time,
so a window never holds another span's jobs.

Spans are kept in memory; the caller writes them out when the run ends.
With tracing off the benchmark uses :class:`NullTracer`, whose spans do
nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Fields every span reports, in output order.
FIELDS = (
    "wall_ms", "jobs", "stages", "tasks", "failed_tasks", "exec_run_ms",
    "gc_ms", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
    "busy_share", "driver_gap_ms",
)
_MB = 1024.0 * 1024.0


class NullTracer:
    enabled = False
    overhead_s = 0.0
    phase = "warm-up"

    @contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._tracker = sc.statusTracker()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_tasks = jvm.java.util.Collections.emptyList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._cores = cores
        self._watermark = -1  # highest job id already looked at
        self.phase = "warm-up"  # recorded on each span; the workload sets "timed"
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        group = f"perfbench-{len(self.spans)}-{name}"
        self._sc.setJobGroup(group, name)
        rec: dict = {"name": name, "phase": self.phase}
        t0 = time.time()
        b1 = time.perf_counter()
        try:
            yield rec
        finally:
            b2 = time.perf_counter()
            t1 = time.time()
            self._jsc.clearJobGroup()
            self._bus.waitUntilEmpty()
            rec.update(self._collect(group, t0, t1, (b2 - b1) * 1000.0))
            self.spans.append(rec)
            self.overhead_s += (b1 - b0) + (time.perf_counter() - b2)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _collect(self, group: str, t0: float, t1: float, wall_ms: float) -> dict:
        lo, hi = t0 * 1000.0 - 5.0, t1 * 1000.0 + 5.0
        grouped = set(self._tracker.getJobIdsForGroup(group))
        candidates = grouped | {
            j for j in self._tracker.getJobIdsForGroup(None) if j > self._watermark}
        jobs = []
        for jid in sorted(candidates):
            job = self._json(self._store.job(jid))
            sub = job.get("submissionTime")
            if jid in grouped or (sub is not None and lo <= sub <= hi):
                jobs.append(job)
        if candidates:
            self._watermark = max(self._watermark, max(candidates))
        stages = []
        for sid in sorted({s for job in jobs for s in job["stageIds"]}):
            for st in self._json(self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles)):
                sub = st.get("submissionTime")
                # A shuffle-map stage computed by an earlier job is listed
                # (as skipped) by later jobs; count each attempt only in the
                # window it ran in.
                if st["status"] in ("COMPLETE", "FAILED", "ACTIVE") and sub is not None \
                        and lo <= sub <= hi:
                    stages.append(st)
        covered, end = 0.0, lo + 5.0
        for job in sorted(jobs, key=lambda j: j.get("submissionTime") or 0):
            s = max(job.get("submissionTime") or end, end)
            e = min(job.get("completionTime") or hi - 5.0, hi - 5.0)
            if e > s:
                covered += e - s
                end = e
        exec_ms = float(sum(s["executorRunTime"] for s in stages))
        return {
            "wall_ms": wall_ms,
            "jobs": len(jobs),
            "jobs_outside_group": sum(1 for j in jobs if j["jobId"] not in grouped),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "exec_run_ms": exec_ms,
            "gc_ms": float(sum(s["jvmGcTime"] for s in stages)),
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / _MB,
            "output_mb": sum(s["outputBytes"] for s in stages) / _MB,
            "output_records": sum(s["outputRecords"] for s in stages),
            "busy_share": exec_ms / (wall_ms * self._cores) if wall_ms > 0 else 0.0,
            "driver_gap_ms": max(0.0, wall_ms - covered),
        }
