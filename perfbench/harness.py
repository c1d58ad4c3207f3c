"""Closed-loop op runner shared by the workloads.

One client: the next op starts when the previous one returns. A workload
hands the runner an iterator of *passes* (lists of ops). The runner

1. runs a workload's untimed warm-up passes;
2. runs the timed window: whole passes, at least ``min_passes`` and until
   ``seconds`` have elapsed. A workload sizes ``min_passes`` so that they
   outlast ``seconds``: every run at one seed then times the same ops and
   its job counts repeat exactly.

With tracing on, timed ops alternate traced and untraced; per-layer
figures come from the traced ones, and the gap between the two medians
is the tracing overhead.
"""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable, Iterator

from perfbench.proc import peak_rss_by_process, tree_cpu_s
from perfbench.trace import Counters, Tracer


@dataclass
class Op:
    name: str  # the query line or loaded table
    kind: str  # span name of the op: "query", "load_dim" or "load_fact"
    fn: Callable[[], object]


class Runner:
    def __init__(self, spark, tracer: Tracer | None) -> None:
        self.counters = Counters(spark)
        self.tracer = tracer
        self.warmup: list[dict] = []
        self.timed: list[dict] = []
        self.window: dict = {}

    def run_op(self, op: Op, phase: str, traced: bool = False) -> dict:
        rec = {"name": op.name, "kind": op.kind, "phase": phase, "traced": traced}
        first_span = len(self.tracer.spans) if traced else None
        if traced:
            self.tracer.op_id += 1
        span = self.tracer.span(op.kind, line=op.name) if traced else nullcontext()
        result, error = None, None
        j0 = self.counters.jobs()
        t0 = time.perf_counter()
        try:
            with span:
                result = op.fn()
        except Exception as exc:  # a failed op is a measured outcome, not a crash
            error = f"{type(exc).__name__}: {exc}"[:300]
        t1 = time.perf_counter()
        rec.update(
            start=t0, end=t1, ms=(t1 - t0) * 1e3, jobs=self.counters.jobs() - j0,
            ok=error is None, error=error,
        )
        if isinstance(result, dict):
            rec["result"] = result
        print(
            f"perfbench: {phase} {op.name} {rec['ms']:.0f} ms {rec['jobs']} jobs"
            + (f" FAILED {error}" if error else ""),
            file=sys.stderr,
        )
        if traced:
            rec["op"] = self.tracer.op_id
            df = result if hasattr(result, "_jdf") else None
            self.tracer.settle(first_span, df)
        return rec

    def run_warmup(self, passes: Iterator[list[Op]], n_passes: int) -> dict:
        """``n_passes`` untimed passes. The tree's CPU of each is reported:
        a fresh JVM is still warming up after them (README.md)."""
        t0 = time.perf_counter()
        cpu: list[float] = []
        for _ in range(n_passes):
            c0 = tree_cpu_s()
            self.warmup += [self.run_op(op, "warmup") for op in next(passes)]
            cpu.append(tree_cpu_s() - c0)
        return {
            "warmup_s": time.perf_counter() - t0,
            "warmup_passes": n_passes,
            "warmup_cpu_s": [round(c, 2) for c in cpu],
        }

    def run_window(self, passes: Iterator[list[Op]], min_passes: int, seconds: float) -> dict:
        trace = self.tracer is not None
        c0, j0 = tree_cpu_s(), self.counters.jobs()
        t0 = time.perf_counter()
        n_pass = 0
        while n_pass < min_passes or time.perf_counter() - t0 < seconds:
            for i, op in enumerate(next(passes)):
                # every other op is traced, shifted by one each pass, so
                # each line of the mix is traced as often as not
                traced = trace and (n_pass + i) % 2 == 0
                if traced:
                    self.tracer.start()
                self.timed.append(self.run_op(op, "timed", traced))
                if traced:
                    self.tracer.stop()
            n_pass += 1
        self.window = {
            "start": t0,
            "wall_s": time.perf_counter() - t0,
            "cpu_s": tree_cpu_s() - c0,
            "jobs": self.counters.jobs() - j0,
            "passes": n_pass,
        }
        rss = peak_rss_by_process()
        self.window["peak_rss_mb"] = sum(rss.values())
        print(f"perfbench: peak RSS MB by process {rss}", file=sys.stderr)
        return self.window

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        """Metrics of an untraced run (``--trace 0``)."""
        ms = [r["ms"] for r in self.timed]
        n, w = len(ms), self.window
        return {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(ms),
            "ops_per_s": n / w["wall_s"],
            "cpu_s_per_op": w["cpu_s"] / n,
            "spark_jobs_per_op": w["jobs"] / n,
        }

    def trace_overhead_ms(self) -> float:
        traced = [r["ms"] for r in self.timed if r["traced"]]
        plain = [r["ms"] for r in self.timed if not r["traced"]]
        return statistics.median(traced) - statistics.median(plain)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, timed: list[dict]) -> dict[str, float]:
    """Per-op means over the traced timed ops, from their spans."""
    ops = [r for r in timed if r["traced"]]
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_op.setdefault(s["op"], []).append(s)
    tops = [by_op[r["op"]][0] for r in ops]

    def per_op(name: str, field: str) -> float:
        def total(spans):
            return sum(
                (s["end"] - s["start"]) * 1e3 if field == "ms" else s.get(field, 0)
                for s in spans
                if s["name"] == name
            )

        return _mean(total(by_op[r["op"]]) for r in ops)

    def load(kind: str, field: str) -> float:
        sel = [t for t in tops if t["name"] == kind]
        return _mean((t["end"] - t["start"]) * 1e3 if field == "ms" else t[field] for t in sel)

    loads = [t for t in tops if t["name"].startswith("load_")]
    # execution: the noop write of a query line, the whole call of a load
    exe = [s for r in ops for s in by_op[r["op"]] if s["name"] == "execute"] + loads

    def self_ms(top: dict) -> float:
        kids = [s for s in by_op[top["op"]] if s["parent"] is not None
                and tracer.spans[s["parent"]] is top]
        return (top["end"] - top["start"] - sum(k["end"] - k["start"] for k in kids)) * 1e3

    results = [r.get("result") or {} for r in ops if r["kind"].startswith("load_")]
    changed = sum(
        sum(v for k, v in res.items() if k in ("inserted", "updated", "closed", "deleted"))
        for res in results
    )
    rewritten = sum(sum(res.values()) for res in results)
    n_ops = max(len(ops), 1)
    return {
        "construct.ms": per_op("construct", "ms"),
        "construct.jobs": per_op("construct", "jobs"),
        "catalyst.analysis_ms": _mean(t["analysis_ms"] for t in tops),
        "catalyst.optimization_ms": _mean(t["optimization_ms"] for t in tops),
        "catalyst.planning_ms": _mean(t["planning_ms"] for t in tops),
        "execute.ms": sum((s["end"] - s["start"]) * 1e3 for s in exe) / n_ops,
        "execute.jobs": sum(s["jobs"] for s in exe) / n_ops,
        "execute.stages": sum(s["stages"] for s in exe) / n_ops,
        "execute.tasks": _mean(t["tasks"] for t in tops),
        "execute.shuffle_write_mb": _mean(t["shuffle_write_mb"] for t in tops),
        "execute.executor_cpu_ms": _mean(t["executor_cpu_ms"] for t in tops),
        "execute.jvm_gc_ms": _mean(t["jvm_gc_ms"] for t in tops),
        "load.dim_ms": load("load_dim", "ms"),
        "load.fact_ms": load("load_fact", "ms"),
        "load.dim_jobs": load("load_dim", "jobs"),
        "load.fact_jobs": load("load_fact", "jobs"),
        "load.rows_changed": changed / n_ops,
        "load.rows_rewritten": rewritten / n_ops,
        "load.rewrite_ratio": rewritten / changed if changed else 0.0,
        "store.read_ms": per_op("store.read", "ms"),
        "store.write_ms": per_op("store.write", "ms"),
        "store.swap_ms": per_op("store.swap_partitions", "ms"),
        "store.mb_written": per_op("store.write", "mb") + per_op("store.swap_partitions", "mb"),
        "store.files_written": per_op("store.write", "files")
        + per_op("store.swap_partitions", "files"),
        "tracker.ms": per_op("tracker.read_watermark", "ms") + per_op("tracker.advance", "ms"),
        "tracker.jobs": per_op("tracker.read_watermark", "jobs")
        + per_op("tracker.advance", "jobs"),
        "runlog.ms": per_op("runlog.append", "ms"),
        "runlog.jobs": per_op("runlog.append", "jobs"),
        "merge.self_ms": _mean(self_ms(t) for t in loads),
    }
