"""CLI entry point: run the warehouse ETL end-to-end from a shell.

The reference ships as a runnable T-SQL script (`code/SQL_1…sql` top-to-
bottom); this is the equivalent product surface for the Spark engine:

    python -m etl_mini_dw_spark --sf-dir /root/testdata/sf0.001 \
        --store /tmp/dw [--as-of "1996-06-01 00:00:00"]

Runs Stage 1–5 (bootstrap, dims, fact, validations) against the given
source directory into the given store directory, prints one JSON line
per load with the run-log counters, then the Stage-5 validation summary.
Exit code 0 iff every load succeeded and no validation returned rows.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="etl_mini_dw_spark")
    ap.add_argument("--sf-dir", required=True, help="source parquet directory")
    ap.add_argument("--store", required=True, help="warehouse store directory")
    ap.add_argument("--as-of", default=None, help="load watermark cutoff (incremental split)")
    ap.add_argument("--now-ts", default=None, help="fixed 'now' for SCD2 validity stamps")
    ap.add_argument("--skip-validate", action="store_true")
    args = ap.parse_args(argv)

    from etl_mini_dw_spark.etl.orchestrate import Warehouse
    from etl_mini_dw_spark.session import get_spark

    spark = get_spark("etl_mini_dw_spark-cli")
    wh = Warehouse(spark, args.store, args.sf_dir)
    results = wh.run_all(as_of=args.as_of, now_ts=args.now_ts)
    ok = True
    for name, res in results.items():
        print(json.dumps({"load": name, **res}, default=str))

    if not args.skip_validate:
        from etl_mini_dw_spark import fixtures_spec as spec
        from etl_mini_dw_spark.plans import validation

        n_bad = 0
        for dim_key in spec.DIMS:
            dim = spec.DIMS[dim_key]
            df = wh.table(dim.name)
            for check, frame in (
                ("dup_current", validation.duplicate_current_per_nk(df, dim.nk)),
                ("dup_versions", validation.duplicate_version_windows(df, dim.nk)),
                ("overlaps", validation.overlapping_windows(df, dim.nk, dim.sk)),
            ):
                n = frame.count()
                n_bad += n
                print(json.dumps({"validate": f"{dim_key}.{check}", "violations": n}))
        missing = wh.missing_tables()
        n_bad += len(missing)
        print(json.dumps({"validate": "expected_tables", "missing": missing}))
        ok = ok and n_bad == 0

    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
