"""Spans around the benchmark's own calls into the program, each carrying
the Spark stage metrics of the jobs it ran.

A span records name, start, end and parent, and is kept in memory until
the run ends. While tracing is on, each span tags its jobs with
``setJobGroup`` and, when it closes, reads the metrics Spark's status store
already keeps for them (after the listener bus drains). Job ids are
sequential per SparkContext and the benchmark has one client thread, so the
jobs a span ran are exactly the ids submitted between its start and end;
that also catches jobs a streaming query runs under its own job group.
Metric reading happens after the span's end stamp, so it never inflates the
span's wall, only its parent's; ``bookkeeping_s`` records that cost.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

QUANTITIES = ("jobs", "tasks", "executor_run_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "output_bytes")


class StageMetrics:
    """Reads the stage metrics of jobs submitted since the last read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._scala_sc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.take()

    def _end_job_id(self) -> int:
        j, misses = self._next_job, 0
        last = j
        while misses < 3:
            if self._tracker.getJobInfo(j) is not None:
                last, misses = j + 1, 0
            else:
                misses += 1
            j += 1
        return last

    def take(self) -> dict:
        """Metrics summed over jobs submitted since the previous call."""
        self._scala_sc.listenerBus().waitUntilEmpty()
        end = self._end_job_id()
        out = dict.fromkeys(QUANTITIES, 0)
        store = self._scala_sc.statusStore()
        for j in range(self._next_job, end):
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:   # noqa: BLE001 - stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                out["output_bytes"] += sd.outputBytes()
        self._next_job = end
        return out


class Tracer:
    """In-memory span recorder. With ``enabled`` false it only keeps the
    timing of each span and touches nothing in Spark."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._metrics: StageMetrics | None = None
        self._sc = None
        self.bookkeeping_s = 0.0

    def attach(self, spark) -> None:
        if self.enabled:
            t0 = time.perf_counter()
            self._sc = spark.sparkContext
            self._metrics = StageMetrics(spark)
            self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None, **attrs}
        self.spans.append(rec)
        if self._metrics is not None:
            t0 = time.perf_counter()
            rec.update(dict.fromkeys(QUANTITIES, 0))
            self._absorb(self._metrics.take())
            self._sc.setJobGroup(f"perfbench-{sid}", name)
            self.bookkeeping_s += time.perf_counter() - t0
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["wall_s"] = rec["end"] - rec["start"]
            if self._metrics is not None:
                t0 = time.perf_counter()
                self._absorb(self._metrics.take(), rec)
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self._sc.setJobGroup(f"perfbench-{parent['id']}",
                                         parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                self.bookkeeping_s += time.perf_counter() - t0

    def _absorb(self, metrics: dict, rec: dict | None = None) -> None:
        """Add jobs read since the last read to ``rec`` (default: the open
        span). Jobs run outside every span are bookkeeping and dropped.
        A span's metrics are therefore its self metrics: jobs that ran
        inside it but inside none of its children."""
        if rec is None:
            if not self._stack:
                return
            rec = self.spans[self._stack[-1]]
        for k, v in metrics.items():
            rec[k] += v

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and s.get("end") is not None]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]
