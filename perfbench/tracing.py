"""Spans and layer counters for the traced benchmark run.

A span is recorded by the benchmark around each call it makes into one
of the package's modules (``session``, ``sources``, ``plans``,
``operators``, ``streaming``, ``llm``).  Each span carries its own
Spark job group, so after the span ends the jobs it submitted can be
looked up in Spark's status store and their stage metrics (executor
run and CPU time, GC, shuffle, spill, tasks) attributed to it.

With tracing off every method is a no-op apart from the wall clock the
workload needs anyway, so the untraced run measures the engine alone.
The tracer times its own bookkeeping; that sum is ``tracing.overhead_s``.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self.heap_peak_b = 0
        self.spark = None
        self._stack: list[dict] = []
        self._main = threading.get_ident()

    def bind(self, spark) -> None:
        """Attach the live session; ``None`` detaches it before it stops."""
        self.spark = spark

    def start_timed(self) -> None:
        """Mark the end of set-up: counters restart, and the compile
        count so far is remembered so timed compiles can be told apart."""
        self.counters.clear()
        self.codegen_at_timed = self.codegen()[0] if self.enabled else 0

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call into a layer.  Spans nest; the innermost one owns
        the Spark jobs submitted from the main thread meanwhile."""
        if not self.enabled:
            yield
            return
        t_book = time.perf_counter()
        sid = uuid.uuid4().hex[:12]
        parent = self._stack[-1] if self._stack else None
        rec = {"run": self.run_id, "id": sid, "name": name,
               "parent": parent["id"] if parent else None, **attrs}
        on_main = threading.get_ident() == self._main
        if on_main and self.spark is not None:
            self.spark.sparkContext.setJobGroup(sid, name, False)
            self._stack.append(rec)
        self.overhead_s += time.perf_counter() - t_book
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            t_book = time.perf_counter()
            if on_main and self.spark is not None:
                self._stack.pop()
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(parent["id"], parent["name"], False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                rec.update(self._stage_metrics(sid))
                self._sample_heap()
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t_book

    def query_span(self, name: str, query, start: float, end: float) -> None:
        """A span for a streaming query: its micro-batches run on the
        query's own thread under the query's run id as job group."""
        if not self.enabled:
            return
        t_book = time.perf_counter()
        rec = {"run": self.run_id, "id": str(query.runId), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": start, "end": end}
        rec.update(self._stage_metrics(str(query.runId)))
        self.spans.append(rec)
        self.overhead_s += time.perf_counter() - t_book

    def planning(self, df) -> None:
        """Analysis + optimization + planning time of ``df``'s plan, read
        from its ``QueryPlanningTracker`` after forcing the physical plan
        (the action re-plans a copy, so this is the traced run's probe of
        the same work)."""
        if not self.enabled:
            return
        t_book = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        self.count("spark.planning_s", ms / 1000.0)
        self.overhead_s += time.perf_counter() - t_book

    def streaming_progress(self, query, label: str) -> list[dict]:
        """Every ``StreamingQueryProgress`` the query kept, as plain
        dicts tagged with ``label``."""
        out = [dict(json.loads(p.json), label=label)
               for p in query.recentProgress]
        self.progress.extend(out)
        return out

    def _stage_metrics(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tot = {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
               "shuffle_write_b": 0, "spill_b": 0}
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            tot["jobs"] += 1
            for sid in info.stageIds:
                atts = store.stageData(sid, False, None, False, None)
                for i in range(atts.size()):
                    a = atts.apply(i)
                    tot["tasks"] += a.numCompleteTasks()
                    tot["run_ms"] += a.executorRunTime()
                    tot["cpu_ns"] += a.executorCpuTime()
                    tot["gc_ms"] += a.jvmGcTime()
                    tot["shuffle_write_b"] += a.shuffleWriteBytes()
                    tot["spill_b"] += (a.memoryBytesSpilled()
                                       + a.diskBytesSpilled())
        return tot

    def _sample_heap(self) -> None:
        jvm = self.spark.sparkContext._jvm
        used = jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean().getHeapMemoryUsage().getUsed()
        self.heap_peak_b = max(self.heap_peak_b, used)

    def codegen(self) -> tuple[int, float]:
        """(classes compiled so far in this JVM, mean compile seconds),
        from Spark's ``CodegenMetrics`` compile-time histogram.  The
        histogram keeps a sample, not a sum, so compile seconds are an
        estimate: count times the sampled mean."""
        h = self.spark.sparkContext._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME()
        return h.getCount(), h.getSnapshot().getMean() / 1000.0

    def layer_sums(self, since: float = 0.0) -> dict[str, float]:
        """Per-span-name wall seconds and Spark stage totals over the
        spans that started at or after ``since`` (each job belongs to the
        innermost span, so summing every span counts it once)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] < since:
                continue
            key = s["name"] + ".s"
            out[key] = out.get(key, 0.0) + s["end"] - s["start"]
            for k in ("jobs", "tasks", "run_ms", "cpu_ns", "gc_ms",
                      "shuffle_write_b", "spill_b"):
                out[k] = out.get(k, 0) + s.get(k, 0)
        return out

    def rss_peak_mb(self) -> float:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def write(self, path: str, extra: dict) -> None:
        """Spans, streaming progress and counters as one JSON document."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "progress": self.progress,
                       "counters": self.counters, **extra}, fh)
