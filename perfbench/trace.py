"""Spans around the package's public calls, and exact Spark counters.

Counters are high-water marks, never counts of retained ids: the status
tracker keeps only the last 1000 jobs, so diffing the id lists it
returns undercounts on a long run.

- jobs: the DAG scheduler's next job id, read before and after a call;
- stages: the highest stage id owned by the last job before each mark,
  read once the listener bus has drained;
- stage metrics (tasks, executor CPU, GC, shuffle bytes): Spark's status
  store, for the stage ids a span allocated;
- Catalyst phases: a ``QueryExecutionListener`` reads each action's
  ``QueryPlanningTracker``; a query line's own analysis happens when its
  DataFrame is built and is read from that DataFrame's tracker.

Spans are dicts kept in memory and written out by the caller at exit.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

PHASES = ("analysis", "optimization", "planning")


class Counters:
    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(self) -> int:
        """Id the next submitted job will get, i.e. jobs fired so far."""
        return int(self._dag.nextJobId())


def _phase_ms(tracker) -> dict[str, float]:
    out = {}
    it = tracker.phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class _PhaseListener:
    """py4j implementation of ``QueryExecutionListener``."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def take(self) -> list[dict]:
        with self._lock:
            events, self._events = self._events, []
        return events

    def _add(self, qe) -> None:
        phases = _phase_ms(qe.tracker())
        with self._lock:
            self._events.append(phases)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._add(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        self._add(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans while ``active``; wrappers are no-ops otherwise."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.counters = Counters(spark)
        self.active = False
        self.spans: list[dict] = []
        self.op_id = -1
        self._stack: list[int] = []
        self._listener = None
        self._manager = None

    # --- switching ---------------------------------------------------------
    def start(self) -> None:
        if self._listener is None:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self._listener = _PhaseListener()
            self._manager = self.spark._jsparkSession.listenerManager()
        self._manager.register(self._listener)
        self.active = True

    def stop(self) -> None:
        if self._listener is not None and self.active:
            self._drain()
            self._manager.unregister(self._listener)
            self._listener.take()
        self.active = False

    # --- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "op": self.op_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "j0": self.counters.jobs(),
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["j1"] = self.counters.jobs()
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, annotate=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span;
        ``annotate(span, *args, **kwargs)`` may add fields once the call
        has returned, outside the span's clock."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if rec is not None and annotate is not None:
                annotate(rec, *args, **kwargs)
            return out

        setattr(owner, attr, traced)

    # --- after an op -------------------------------------------------------
    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def settle(self, first_span: int, df=None) -> None:
        """Fill stage counts, stage metrics and Catalyst phases into the
        spans recorded since ``first_span`` (one op). Runs after the op's
        clock stopped."""
        self._drain()
        tracker = self.spark.sparkContext.statusTracker()
        status = self.spark.sparkContext._jsc.sc().statusStore()
        hwm: dict[int, int] = {}

        def stage_hwm(jobs: int) -> int:
            if jobs not in hwm:
                best = -1
                for j in range(jobs - 1, max(jobs - 8, 0) - 1, -1):
                    info = tracker.getJobInfo(j)
                    if info is not None and len(info.stageIds):
                        best = max(int(s) for s in info.stageIds)
                        break
                hwm[jobs] = best
            return hwm[jobs]

        spans = self.spans[first_span:]
        for rec in spans:
            rec["s0"], rec["s1"] = stage_hwm(rec["j0"]), stage_hwm(rec["j1"])
            rec["jobs"] = rec["j1"] - rec["j0"]
            rec["stages"] = rec["s1"] - rec["s0"]
        top = spans[0]
        tasks = cpu_ns = gc_ms = shuffle_b = 0
        for sid in range(top["s0"] + 1, top["s1"] + 1):
            try:
                sd = status.lastStageAttempt(sid)
            except Py4JError:  # the stage is not in the status store
                continue
            tasks += int(sd.numCompleteTasks())
            cpu_ns += int(sd.executorCpuTime())
            gc_ms += int(sd.jvmGcTime())
            shuffle_b += int(sd.shuffleWriteBytes())
        top["tasks"] = tasks
        top["executor_cpu_ms"] = cpu_ns / 1e6
        top["jvm_gc_ms"] = float(gc_ms)
        top["shuffle_write_mb"] = shuffle_b / 2**20
        phases = {p: 0.0 for p in PHASES}
        for event in self._listener.take():
            for p in PHASES:
                phases[p] += event.get(p, 0.0)
        if df is not None:  # a query line's DataFrame was analysed when built
            phases["analysis"] += _phase_ms(df._jdf.queryExecution().tracker()).get(
                "analysis", 0.0
            )
        top.update({f"{p}_ms": v for p, v in phases.items()})
