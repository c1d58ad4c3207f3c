"""Interleaved A/B bench: prev tree vs now tree, alternating, min-of-N.

VERDICT r9 item 2: single bench totals on this machine swing ±25% with
ambient load, so round-over-round comparisons need paired, interleaved
measurements. This driver alternates A/B/A/B... per query line (fresh
process per run so stage memos are cold unless --warm), keeps the
per-tree minimum, and prints a PERF-style table whose geomean is
reproducible because both trees sample the same load epochs.

    python scripts/ab_bench.py --a /tmp/r10_before --b /root/repo \
        --reps 3 [--warm] name1 name2 ...

Each run shells out: {tree}/scripts/_ab_worker.py times the named
queries in one session (memo warmers first with --warm, so lines
measure warm-memo plans exactly like bench.py phase 2).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

WORKER = r"""
import json, os, sys, time
root = sys.argv[1]
warm = sys.argv[2] == "1"
names = sys.argv[3:]
sys.path.insert(0, root)
os.chdir(root)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
import bench
from etl_mini_dw_spark.registry import QUERIES
from etl_mini_dw_spark.session import get_spark
spark = get_spark("ab-bench-worker")
spark.range(1_000_000).selectExpr("sum(id)").collect()
if warm:
    for label, fn in bench._memo_warmers():
        for frame in fn(spark, SF_DIR):
            frame.count()
out = {}
for name in names:
    t0 = time.perf_counter()
    QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    out[name] = round(time.perf_counter() - t0, 3)
try:
    load = round(os.getloadavg()[0], 2)
except OSError:
    load = -1.0
print("ABRESULT " + json.dumps({"load": load, "timings": out}))
"""


def run_tree(tree: str, warm: bool, names: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", WORKER, tree, "1" if warm else "0", *names],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"worker failed for {tree}: {proc.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--a", required=True, help="prev tree root")
    ap.add_argument("--b", required=True, help="now tree root")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--warm", action="store_true", help="run memo warmers first")
    args = ap.parse_args()

    best: dict[str, dict[str, float]] = {"a": {}, "b": {}}
    loads = []
    for rep in range(args.reps):
        for side, tree in (("a", args.a), ("b", args.b)):
            res = run_tree(tree, args.warm, args.names)
            loads.append(res["load"])
            for n, t in res["timings"].items():
                cur = best[side].get(n)
                best[side][n] = t if cur is None else min(cur, t)
            print(f"# rep {rep} side {side} load {res['load']}: {res['timings']}",
                  file=sys.stderr)
    ratios = []
    print(f"{'query':45s} {'prev(A)':>9s} {'now(B)':>9s} {'speedup':>8s}")
    for n in args.names:
        a, b = best["a"].get(n), best["b"].get(n)
        if a is None or b is None:
            continue
        # a 0.0 s minimum is a real timing: it gets its line, but no
        # ratio against it enters the geomean (log needs a positive one)
        print(f"{n:45s} {a:9.3f} {b:9.3f} {a / b if b else math.nan:8.2f}")
        if a and b:
            ratios.append(a / b)
    if ratios:
        gm = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        print(f"geomean speedup (A/B, >1 = B faster): {gm:.3f}  loads={loads}")


if __name__ == "__main__":
    main()
