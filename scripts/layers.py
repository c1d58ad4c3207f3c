"""Spark jobs and seconds per query line, split into construction and execution.

    python scripts/layers.py [--cold] [--sf-dir DIR] name ...

Prints one JSON record per line: ``construct_jobs``/``construct_s`` while
``QUERIES[name]`` builds the frame, ``execute_jobs``/``execute_s`` for a
noop write of it. Jobs are diffs of the DAG scheduler's next job id:
micro-batch jobs run under their stream's own job group, so the status
tracker's default group would miss them. Without ``--cold`` every name
runs in one session, in the order given, so a memo one line builds
serves the next; ``--cold`` runs each name in a process of its own.
The data dir defaults to ``$SPARK_GRAFT_SF_DIR``; the core count is
``$SPARK_GRAFT_CPUS`` (default: all cores), as for every session.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _measure(spark, sf_dir: str, name: str) -> dict:
    from etl_mini_dw_spark.registry import QUERIES

    def next_job() -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    j0, t0 = next_job(), time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    j1, t1 = next_job(), time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    j2, t2 = next_job(), time.perf_counter()
    return {
        "name": name,
        "construct_jobs": j1 - j0,
        "execute_jobs": j2 - j1,
        "jobs": j2 - j0,
        "construct_s": round(t1 - t0, 3),
        "execute_s": round(t2 - t1, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--cold", action="store_true", help="one fresh process per name")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")
    if args.cold and len(args.names) > 1:
        for name in args.names:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--sf-dir", args.sf_dir, name],
                check=True,
            )
        return
    sys.path.insert(0, ROOT)
    from etl_mini_dw_spark.session import get_spark

    spark = get_spark("layers")
    for name in args.names:
        print(json.dumps(_measure(spark, args.sf_dir, name)), flush=True)


if __name__ == "__main__":
    main()
