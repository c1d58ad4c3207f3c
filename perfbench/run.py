"""Run one workload of the benchmark. From the repository root:

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Progress goes to stderr. The last stdout line is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics and writes every span to
``perfbench/out/trace-<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # every run must end within 180 s

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "spark_jobs_per_op": "count",
}


# per-layer metrics printed with --trace 1: the ones every workload
# measures. Times of layers only one workload exercises (load, store,
# tracker, run log, merge, construction, memo builds) would read 0 on
# the other, so they live in the per-layer table of the trace file.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "peak_rss_mb": "MB",
    "warmup_s": "s",
    "warmup_passes": "count",
    "trace.overhead_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "execute.ms": "ms",
    "execute.executor_cpu_ms": "ms",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.shuffle_write_mb": "MB",
    "construct.jobs": "count",
    "memo.build_jobs": "count",
    "load.dim_jobs": "count",
    "load.fact_jobs": "count",
    "load.rows_changed": "count",
    "load.rows_rewritten": "count",
    "load.rewrite_ratio": "ratio",
    "store.mb_written": "MB",
    "store.files_written": "count",
    "store.mb_on_disk": "MB",
    "tracker.jobs": "count",
    "runlog.jobs": "count",
}


class Context:
    """Scratch space, inputs and the Spark session of one run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.parent = os.path.join(HERE, ".work")
        self.made_parent = not os.path.isdir(self.parent)
        self.work = os.path.join(self.parent, f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work)
        self.spark = None
        self.t0 = time.perf_counter()
        self.session_s = 0.0

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t0:7.1f}s {msg}", file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def generate(self, sf: float) -> str:
        spec = importlib.util.spec_from_file_location(
            "gen_scale_data", os.path.join(ROOT, "scripts", "gen_scale_data.py")
        )
        gen = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gen)
        out = self.path(f"sf{sf}")
        gen.gen(sf, out, seed=self.seed)
        return out

    def start_session(self):
        from etl_mini_dw_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        return self.spark, self.session_s

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)
        if self.made_parent:
            try:
                os.rmdir(self.parent)
            except OSError:  # another run still uses it
                pass


def _env(ctx: Context) -> None:
    """One executor thread per core, and all scratch inside the checkout."""
    tmp = ctx.path("tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp either, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _result(ctx: Context, setup_s, runner, checks, extra) -> dict:
    from perfbench.harness import layer_metrics

    failed_checks = {k: v for k, v in checks.items() if v is not None}
    failed = sum(not r["ok"] for r in runner.timed + runner.warmup) + len(failed_checks)
    attempted = len(runner.timed) + len(checks)
    for label, msg in failed_checks.items():
        print(f"perfbench: check {label} failed: {msg}", file=sys.stderr)
    if not ctx.trace:
        values = runner.end_to_end(setup_s)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    else:
        memos = extra.get("memos", {})
        values = {
            "session.start_s": ctx.session_s,
            "peak_rss_mb": runner.window["peak_rss_mb"],
            "memo.build_s": sum(m["build_s"] for m in memos.values()),
            "memo.build_jobs": sum(m["build_jobs"] for m in memos.values()),
            **layer_metrics(runner.tracer, runner.timed),
            "store.mb_on_disk": extra.get("store_mb_on_disk", 0.0),
            "warmup_s": extra["warmup_s"],
            "warmup_passes": extra["warmup_passes"],
            "trace.overhead_ms": runner.trace_overhead_ms(),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        _write_trace(ctx, runner, checks, extra, values)
    # p90 is printed, not reported: no window holds the ten samples
    # beyond it that a gated percentile needs (README.md)
    ms = [r["ms"] for r in runner.timed]
    p90 = statistics.quantiles(ms, n=10)[8] if len(ms) > 1 else ms[0]
    print(
        f"perfbench: {ctx.workload} seed={ctx.seed} ops={len(runner.timed)} "
        f"op_p90_ms={p90:.0f} "
        f"passes={runner.window['passes']} window={runner.window['wall_s']:.1f}s "
        f"warmup passes={extra['warmup_passes']} cpu s={extra['warmup_cpu_s']} "
        f"run={time.perf_counter() - ctx.t0:.1f}s",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def _write_trace(ctx, runner, checks, extra, values) -> None:
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{ctx.workload}-{ctx.seed}.json")
    t0 = runner.window["start"]
    spans = [
        {k: (round((v - t0) * 1e3, 3) if k in ("start", "end") else v) for k, v in s.items()}
        for s in runner.tracer.spans
    ]
    with open(path, "w") as f:
        json.dump(
            {
                "workload": ctx.workload,
                "seed": ctx.seed,
                "layers": values,
                "setup": extra,
                "checks": checks,
                "ops": runner.timed,
                "spans": spans,
            },
            f,
            indent=1,
            default=str,
        )
    width = max(len(k) for k in values)
    print(f"per-layer table, per timed op unless noted ({path}):", file=sys.stderr)
    for k, v in values.items():
        print(f"  {k:<{width}}  {v:12.3f}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in ("etl_mini_dw_spark", os.path.join("scripts", "gen_scale_data.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        _env(ctx)
        setup_s, runner, checks, extra = WORKLOADS[args.workload](ctx)
        result = _result(ctx, setup_s, runner, checks, extra)
    finally:
        signal.alarm(0)
        ctx.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
