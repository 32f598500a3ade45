"""Span recording around the engine's public entry points, and Spark's
own per-execution accounting, both taken from outside the engine.

`Tracer` keeps spans in memory: name, start, end, parent span and the
statement id. Parents come from a per-thread stack; a span opened on a
thread with an empty stack (the HTTP server's handler thread) hangs
under the current statement's root span, which the client opened.
Statements run one at a time, so the statement id is a plain field.

`SparkProbe` registers a QueryExecutionListener through the py4j
callback server and reads the SQL and core status stores. After each
statement it drains the listener bus, so every execution, job and
stage that appeared while the statement ran belongs to it.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stmt: int | None = None
        self.root: int | None = None
        self.counters: dict[tuple[int | None, str], float] = defaultdict(float)
        self.enabled = False  # wrappers pass straight through while False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self.root
        with self._lock:
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.perf_counter(),
                               "end": None, "parent": parent,
                               "stmt": self.stmt})
        st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def add_span(self, name: str, start: float, end: float, **attrs) -> None:
        """A span observed after the fact (a Spark execution): its parent
        is the innermost span of the same statement that covers it."""
        stmt = self.stmt
        best = None
        mid = (start + end) / 2
        for i, s in enumerate(self.spans):
            if s["stmt"] != stmt or s["end"] is None or s["name"] == "exec":
                continue
            if s["start"] <= mid <= s["end"] and (
                    best is None or s["start"] >= self.spans[best]["start"]):
                best = i
        if best is not None:  # clip to the parent: status-store times are ms
            start = max(start, self.spans[best]["start"])
            end = min(end, self.spans[best]["end"])
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": max(start, end),
                               "parent": best, "stmt": stmt, **attrs})

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[(self.stmt, name)] += value

    def wrap(self, module, attr: str, name: str, before=None, after=None,
             hooks_always: bool = False) -> None:
        """Replace module.attr with a spanned version. `before(*args)`
        returns a state handed to `after(state, result, *args)`; both
        run inside the span. With `hooks_always` the hooks also run
        while the tracer is disabled (counters that must see every
        call), without a span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not self.enabled:
                if not hooks_always:
                    return orig(*args, **kwargs)
                state = before(*args, **kwargs) if before else None
                result = orig(*args, **kwargs)
                if after:
                    after(state, result, *args, **kwargs)
                return result
            idx = self.open(name)
            try:
                state = before(*args, **kwargs) if before else None
                result = orig(*args, **kwargs)
                if after:
                    after(state, result, *args, **kwargs)
                return result
            finally:
                self.close(idx)

        setattr(module, attr, spanned)

    # -- analysis ----------------------------------------------------

    def self_times(self) -> list[float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                out.append(0.0)
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
            out.append(s["end"] - s["start"] - covered)
        return out


def _seq(conv, scala_seq) -> list:
    return list(conv.asJava(scala_seq))


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, value: (-?\d+)\)")
_PYTHON_KEYS = ("pythonNumRowsReceived", "pythonDataSent", "pythonDataReceived")


class SparkProbe:
    """Per-statement Spark accounting: Catalyst phase times and plan
    SQL metrics from a QueryExecutionListener, executions from the SQL
    status store, jobs and stages from the core status store.

    `attach()` before a traced statement, `harvest()` after it. The
    listener is registered once and records only between the two:
    py4j hands Spark a new proxy object on every call, so unregister()
    would never find the registered one and listeners would pile up."""

    def __init__(self, spark, tracer: Tracer) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.tracer = tracer
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.sc = spark.sparkContext._jsc.sc()
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._metric_types: dict[tuple[str, str], str] = {}
        self.book_s = 0.0  # time the probe itself spends
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.armed = False
        self._listener = _Listener(self)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._epoch_offset = time.time() - time.perf_counter()
        self._last_exec = self._last_job = -1

    def _new_executions(self) -> list:
        """Executions after `_last_exec`; the store lists them by id."""
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        out = []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self._last_exec:
                break
            out.append(e)
        return out[::-1]

    def _new_jobs(self) -> list:
        """Jobs after `_last_job`; the store lists them newest first."""
        jobs = self.sc.statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            out.append(j)
        return out

    def attach(self) -> None:
        t0 = time.perf_counter()
        self.sc.listenerBus().waitUntilEmpty()
        self._last_exec = max([self._last_exec] + [e.executionId() for e in self._new_executions()])
        self._last_job = max([self._last_job] + [j.jobId() for j in self._new_jobs()])
        self.records = []
        self.armed = True
        self.book_s += time.perf_counter() - t0

    def on_success(self, func: str, qe, dur_ns: int) -> None:
        t0 = time.perf_counter()
        ph = self.conv.asJava(qe.tracker().phases())
        phases = {k: ph.get(k).durationMs() / 1000.0 for k in ph.keySet()}
        ops: dict[str, float] = defaultdict(float)
        py: dict[str, int] = defaultdict(int)
        self._walk(qe.executedPlan(), ops, py)
        with self._lock:
            self.records.append({"func": func, "dur_s": dur_ns / 1e9,
                                 "phases": phases, "ops": dict(ops),
                                 "python": dict(py)})
            self.book_s += time.perf_counter() - t0

    def _walk(self, node, ops, py) -> None:
        """Sum timing SQL metrics per operator; one py4j call reads all of
        a node's metric values (SQLMetric's string form)."""
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return self._walk(node.executedPlan(), ops, py)
        if name.endswith("QueryStage"):
            return self._walk(node.plan(), ops, py)
        metrics = node.metrics()
        for key, value in _METRIC.findall(metrics.toString()):
            if key in _PYTHON_KEYS:
                py[key] += int(value)
            if name.startswith("WholeStageCodegen") or not key.lower().endswith("time"):
                continue
            kind = self._metric_types.get((name, key))
            if kind is None:
                kind = self._metric_types[(name, key)] = metrics.apply(key).metricType()
            if kind == "timing":
                ops[name] += int(value) / 1e3
            elif kind == "nsTiming":
                ops[name] += int(value) / 1e9
        children = node.children()
        for i in range(children.size()):
            self._walk(children.apply(i), ops, py)

    def harvest(self) -> dict:
        """Called after a traced statement: drain the listener bus and
        take everything that appeared since `attach()`."""
        t0 = time.perf_counter()
        self.sc.listenerBus().waitUntilEmpty()
        self.armed = False
        execs = [e for e in self._new_executions() if e.completionTime().isDefined()]
        for e in execs:
            start = e.submissionTime() / 1000.0 - self._epoch_offset
            end = e.completionTime().get().getTime() / 1000.0 - self._epoch_offset
            self.tracer.add_span("exec", start, end, exec_id=e.executionId())
        jobs = self._new_jobs()
        status = self.sc.statusStore()
        quantiles = getattr(status, "stageList$default$4")()
        stages = []
        for sid in sorted({int(s) for j in jobs for s in _seq(self.conv, j.stageIds())}):
            attempts = status.stageData(sid, False, None, False, quantiles)
            if attempts.size():
                stage = attempts.apply(attempts.size() - 1)
                if stage.status().toString() != "SKIPPED":
                    stages.append(stage)
        with self._lock:
            records, self.records = self.records, []
        out = {
            "executions": len(execs),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numTasks() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages),
            "input_rows": sum(s.inputRecords() for s in stages),
            "input_bytes": sum(s.inputBytes() for s in stages),
            "peak_memory": max((s.peakExecutionMemory() for s in stages), default=0),
            "records": records,
        }
        self.book_s += time.perf_counter() - t0
        return out


class _Listener:
    def __init__(self, probe: SparkProbe) -> None:
        self.probe = probe

    def onSuccess(self, func, qe, dur_ns):  # noqa: N802 (Java interface)
        if not self.probe.armed:
            return
        try:
            self.probe.on_success(func, qe, dur_ns)
        except Exception as e:  # noqa: BLE001 — never fail the JVM listener bus
            with self.probe._lock:
                self.probe.records.append({"error": repr(e)})

    def onFailure(self, func, qe, exc):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
