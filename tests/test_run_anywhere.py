"""The engine runs away from the repo root: Python workers (mapInPandas,
applyInPandasWithState) must import the package from any working
directory, because `get_spark` ships its location to them."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
WORKER_LINES = (
    "ext_multimodal_features",
    "ext_multimodal_codec_digest",
    "ext_multimodal_resize_digest",
    "ext_streaming_stateful_user_totals",
)


def test_worker_lines_run_from_another_cwd(sf_dir, tmp_path):
    # the driver finds the package through sys.path, as a library user's
    # script would; PYTHONPATH is cleared so that workers inherit nothing
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from etl_mini_dw_spark.registry import QUERIES
        from etl_mini_dw_spark.session import get_spark

        spark = get_spark("run-anywhere", cpus=2)
        for name in {WORKER_LINES!r}:
            QUERIES[name](spark, {sf_dir!r}).write.format("noop").mode(
                "overwrite"
            ).save()
            print("ok", name, flush=True)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    done = [line.split()[1] for line in proc.stdout.splitlines() if line.startswith("ok ")]
    assert proc.returncode == 0 and done == list(WORKER_LINES), proc.stderr[-3000:]
