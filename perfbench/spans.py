"""Spans and Spark counters for the traced run.

A span is recorded around each call the benchmark makes into a layer's
public function: name, start, end, parent span, request id and free-form
attributes. Spans are kept in memory and written out once at the end.

Counters come from diffing Spark's status store (``AppStatusStore``)
around a span rather than from job groups: the engine submits facet and
page jobs from its own ``ThreadPoolExecutor`` threads, where a job group
set on the calling thread is not inherited. Job and stage ids are
allocated sequentially by the DAG scheduler, so the jobs a span caused are
exactly the ids handed out between its start and end (the benchmark runs
one client, so nothing else submits jobs meanwhile). The status store is
filled by the listener bus asynchronously; it is drained before reading.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Any, Dict, Iterator, List, Optional

from py4j.protocol import Py4JJavaError

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "job_ms",
)


class SparkCounters:
    """Status-store diff between two points of a single-client run."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def mark(self) -> tuple:
        return (self._dag.nextJobId(), self._dag.nextStageId())

    def since(self, mark: tuple, t0_ms: float, t1_ms: float) -> Dict[str, float]:
        """Counters of every job and stage created after ``mark``.
        ``job_ms`` is the part of the wall interval [t0_ms, t1_ms] that
        at least one Spark job covered; the rest is driver-only time."""
        self._bus.waitUntilEmpty()
        j0, s0 = mark
        j1, s1 = self.mark()
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        out["jobs"] = float(j1 - j0)
        spans = []
        for jid in range(j0, j1):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted or never posted: no timing
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        covered = 0.0
        end = t0_ms
        for a, b in sorted(spans):
            a, b = max(a, end), min(b, t1_ms)
            if b > a:
                covered += b - a
                end = b
        out["job_ms"] = covered
        for sid in range(s0, s1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse earlier shuffle output
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """Records spans when enabled; otherwise ``span`` only yields.

    ``overhead_s`` accumulates the time spent in the tracer's own
    bookkeeping (status-store reads, listener-bus drains), which is what
    the traced run adds to the untraced one."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: List[Dict[str, Any]] = []
        self.overhead_s = 0.0
        self._stack: List[int] = []
        self._counters = SparkCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Optional[Dict[str, Any]]]:
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec: Dict[str, Any] = {
            "id": span_id,
            "name": name,
            "parent": parent,
            # a top-level call is its own request; nested spans share it
            "request_id": (self.spans[parent]["request_id"]
                           if parent is not None else f"r{span_id}"),
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self._counters.mark()
        t_out = time.perf_counter()
        self.overhead_s += t_out - t_in
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = rec["start"] + (t1 - t0)
            rec["dur_s"] = t1 - t0
            self._stack.pop()
            rec["counters"] = self._counters.since(
                mark, rec["start"] * 1000.0, rec["end"] * 1000.0
            )
            self.overhead_s += time.perf_counter() - t1

    def find(self, name: str, **attrs: Any) -> List[Dict[str, Any]]:
        return [
            s for s in self.spans
            if s["name"] == name
            and all(s["attrs"].get(k) == v for k, v in attrs.items())
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
