"""Span tracer that attaches Spark's own counters to each span.

A span covers one call the benchmark makes into a layer's public
function. Spans nest (one client thread), carry a name, layer, start,
end, parent and run id, are kept in memory and written out when the
run ends. A span's self time is its duration minus its children's.

Job attribution. Every span sets a job group named after itself, and
records the scheduler's next job id when it opens and when it closes.
Jobs submitted from driver threads the program starts itself (a
``ThreadPoolExecutor`` does not inherit the group) still fall inside
the window of the span that was open, because job ids are handed out
at submission. A job goes to the innermost span whose window holds it;
the group, where present, must agree.

Counters. At each span's end the listener bus is drained and the span's
new jobs are read from ``sparkContext().statusStore()`` (job and stage
data) and ``sharedState().statusStore()`` (SQL node metrics) before
Spark's retention (1000 jobs, stages and executions) can evict them.
Each stage and each SQL execution is counted once, by the span whose
job first ran it.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: SQL node metric name -> per-layer metric it feeds.
SQL_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.worker_run_s",
    "time to build": "broadcast.build_s",
    "time to collect": "broadcast.collect_s",
}

#: Stage data field -> (per-layer metric, scale to base unit).
STAGE_METRICS = {
    "executorRunTime": ("exec.run_s", 1e-3),
    "executorCpuTime": ("exec.cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "inputBytes": ("sources.input_bytes", 1),
    "inputRecords": ("sources.input_rows", 1),
    "outputBytes": ("write.output_bytes", 1),
    "outputRecords": ("write.output_rows", 1),
    "shuffleWriteBytes": ("shuffle.write_bytes", 1),
    "shuffleReadBytes": ("shuffle.read_bytes", 1),
    "memoryBytesSpilled": ("spill.bytes", 1),
    "diskBytesSpilled": ("spill.bytes", 1),
}

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Spark's formatted SQL metric (``'1.5 s'``, ``'64.1 MiB'``, or a
    ``'total (min, med, max ...)\\n<total> (...)'`` block) in base
    units: bytes, seconds or a plain count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    jobs: list = field(default_factory=list)
    job_intervals: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union_len(intervals: list, lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes ``span`` a
    no-op, so untraced runs carry no instrumentation."""

    BENCH = "bench"  # layer of the benchmark's own spans (run, ops)
    SOURCES = ("sources", "catalog")  # layers whose wall is sources.call_s

    def __init__(self, spark, run_id: str, enabled: bool = True) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.group_mismatches = 0
        self._stack: list[Span] = []
        if not enabled:
            return
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._seen_stages: set[int] = set()
        self._seen_execs: set[int] = set()

    def _read(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None, self.run_id, 0.0)
        s.job_lo = self._dag.nextJobId()
        self.sc.setJobGroup(f"{self.run_id}:{s.id}", name)
        self.spans.append(s)
        self._stack.append(s)
        t1 = time.perf_counter()
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t2 = time.perf_counter()
            self._stack.pop()
            self._close(s)
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}:{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def _close(self, s: Span) -> None:
        self._bus.waitUntilEmpty()
        s.job_hi = self._dag.nextJobId()
        claimed = {j for c in self.spans[s.id + 1:] for j in c.jobs}
        group = f"{self.run_id}:{s.id}"
        m = s.metrics
        for jid in range(s.job_lo, s.job_hi):
            if jid in claimed:
                continue
            pair = self._store.jobWithAssociatedSql(jid)
            job = self._read(pair._1())
            if job.get("jobGroup") not in (None, group):
                self.group_mismatches += 1
            s.jobs.append(jid)
            # A job the scheduler cancelled (adaptive re-planning) may
            # carry no completion time; it ran at most until the span closed.
            s.job_intervals.append((
                job["submissionTime"] / 1e3 if job["submissionTime"] else s.start,
                job["completionTime"] / 1e3 if job["completionTime"] else s.end,
            ))
            m["driver.jobs"] = m.get("driver.jobs", 0) + 1
            for sid in job["stageIds"]:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._read(self._store.lastStageAttempt(sid))
                if st["status"] not in ("COMPLETE", "FAILED"):
                    continue
                m["driver.stages"] = m.get("driver.stages", 0) + 1
                m["driver.tasks"] = m.get("driver.tasks", 0) + st["numCompleteTasks"]
                for key, (name, scale) in STAGE_METRICS.items():
                    m[name] = m.get(name, 0) + st[key] * scale
            exec_id = pair._2()
            if exec_id.isDefined() and exec_id.get() not in self._seen_execs:
                self._seen_execs.add(exec_id.get())
                self._sql_metrics(exec_id.get(), m)

    def _sql_metrics(self, eid: int, m: dict) -> None:
        ex = self._sql.execution(eid)
        if not ex.isDefined():
            return
        values = self._read(self._sql.executionMetrics(eid))
        graph = self._sql.planGraph(eid)
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            node_name = node.name()
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                sm = metrics.next()
                text = values.get(str(sm.accumulatorId()))
                if text is None:
                    continue
                name = sm.name()
                if name == "data size" and node_name.startswith("BroadcastExchange"):
                    key = "broadcast.bytes"
                elif name in SQL_METRICS:
                    key = SQL_METRICS[name]
                else:
                    continue
                m[key] = m.get(key, 0) + parse_sql_metric(text)

    # ------------------------------------------------------------------
    # run-level views
    # ------------------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.children(s))

    def _subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def busy_time(self, s: Span) -> float:
        """Span wall covered by at least one of its (or its
        descendants') Spark jobs."""
        iv = [i for x in self._subtree(s) for i in x.job_intervals]
        return _union_len(iv, s.start, s.end)

    def top_level(self) -> list[Span]:
        """Layer spans opened directly by the benchmark."""
        bench = {s.id for s in self.spans if s.layer == self.BENCH}
        return [s for s in self.spans if s.layer != self.BENCH and s.parent in bench]

    def layer_totals(self) -> dict:
        tot: dict = {}
        for s in self.spans:
            for k, v in s.metrics.items():
                tot[k] = tot.get(k, 0) + v
        tot["sources.call_s"] = sum(s.dur for s in self.spans if s.layer in self.SOURCES and not any(
            self.spans[p].layer in self.SOURCES for p in self._ancestors(s)))
        tot["driver.gap_s"] = sum(s.dur - self.busy_time(s) for s in self.top_level())
        tot["trace.unattributed_jobs"] = sum(
            len(s.jobs) for s in self.spans if s.layer == self.BENCH
        ) + self.group_mismatches
        return tot

    def _ancestors(self, s: Span) -> list[int]:
        out, p = [], s.parent
        while p is not None:
            out.append(p)
            p = self.spans[p].parent
        return out

    def reconcile(self, root: Span) -> dict:
        """Top-level busy time (Spark's clock) + driver gap + the
        benchmark's own time (spans of layer ``bench``) against the
        root's wall; and how far jobs stray outside their span."""
        top = self.top_level()
        busy = sum(self.busy_time(s) for s in top)
        gap = sum(s.dur - self.busy_time(s) for s in top)
        client = sum(self.self_time(s) for s in self.spans if s.layer == self.BENCH)
        outside = sum(
            (b - a) - _union_len([(a, b)], s.start - 0.002, s.end + 0.002)
            for s in self.spans for a, b in s.job_intervals
        )
        return {
            "wall_s": root.dur,
            "top_busy_s": busy,
            "driver_gap_s": gap,
            "client_s": client,
            "error": abs(busy + gap + client - root.dur) / root.dur,
            "jobs_outside_span_s": outside,
        }

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_time(s)
            d["busy_s"] = self.busy_time(s)
            out.append(d)
        return out
