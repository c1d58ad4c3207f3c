"""The benchmark's own tests. From the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The first two tests need no Spark. The last runs each workload twice at
one seed (about four minutes) and checks the exact job counter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import Op, Runner, layer_metrics  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


class _Dag:
    def __init__(self) -> None:
        self.next_job = 0

    def nextJobId(self) -> int:  # noqa: N802 (Spark's name)
        return self.next_job


def _fake_spark(dag: _Dag):
    jvm_context = SimpleNamespace(dagScheduler=lambda: dag)
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: jvm_context)))


def _passes(make_op):
    k = 0
    while True:
        yield [Op(f"p{k}.o{i}", "query", make_op(k, i)) for i in range(3)]
        k += 1


def test_warmup_never_enters_the_timed_window():
    dag = _Dag()

    def op(k, i):
        def run():
            dag.next_job += 1 + i
            time.sleep(0.01)

        return run

    runner = Runner(_fake_spark(dag), None)
    it = _passes(op)
    extra = runner.run_warmup(it, 1)
    window = runner.run_window(it, min_passes=2, seconds=0.05)

    assert len(runner.warmup) == 3 and extra["warmup_passes"] == len(extra["warmup_cpu_s"]) == 1
    assert all(r["phase"] == "warmup" and r["end"] <= window["start"] for r in runner.warmup)
    assert all(r["phase"] == "timed" and r["start"] >= window["start"] for r in runner.timed)
    assert {r["name"] for r in runner.warmup}.isdisjoint(r["name"] for r in runner.timed)
    # whole passes only, at least two, and the window's job count is
    # exactly its ops' jobs
    assert len(runner.timed) % 3 == 0 and window["passes"] == len(runner.timed) // 3 >= 2
    assert window["jobs"] == sum(r["jobs"] for r in runner.timed) == 6 * window["passes"]
    e2e = runner.end_to_end(setup_s=1.0)
    assert e2e["spark_jobs_per_op"] == 2.0


def test_load_self_time_excludes_store_tracker_and_runlog_children():
    dag = _Dag()
    tracer = Tracer.__new__(Tracer)
    tracer.counters = SimpleNamespace(jobs=lambda: dag.next_job)
    tracer.active, tracer.spans, tracer.op_id, tracer._stack = True, [], 0, []
    with tracer.span("load_dim"):
        time.sleep(0.02)
        with tracer.span("store.write"):
            dag.next_job += 2
            time.sleep(0.03)
        with tracer.span("tracker.advance"):
            dag.next_job += 1
            with tracer.span("store.write"):
                time.sleep(0.01)
    for s in tracer.spans:
        s.update(jobs=s["j1"] - s["j0"], stages=0, tasks=0, executor_cpu_ms=0.0,
                 jvm_gc_ms=0.0, shuffle_write_mb=0.0, analysis_ms=0.0,
                 optimization_ms=0.0, planning_ms=0.0)
    ops = [{"op": 0, "traced": True, "kind": "load_dim", "result": {"kept": 5, "inserted": 1}}]
    m = layer_metrics(tracer, ops)
    top = tracer.spans[0]
    children = [tracer.spans[1], tracer.spans[2]]
    want = (top["end"] - top["start"] - sum(c["end"] - c["start"] for c in children)) * 1e3
    assert m["merge.self_ms"] == pytest.approx(want)
    assert 15 <= m["merge.self_ms"] < 30
    assert m["store.write_ms"] >= 40  # both writes, the nested one included
    assert m["tracker.jobs"] == 1 and m["load.dim_jobs"] == 3
    assert m["load.rows_changed"] == 1 and m["load.rewrite_ratio"] == 6


def _run(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=200, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["warehouse_queries", "etl_incremental"])
def test_spark_jobs_per_op_repeats_exactly_at_one_seed(workload):
    pytest.importorskip("pyspark")
    first, second = _run(workload, 5), _run(workload, 5)
    assert first["correct"] and second["correct"]
    jobs = [r["metrics"]["spark_jobs_per_op"]["value"] for r in (first, second)]
    assert jobs[0] == jobs[1] > 0
