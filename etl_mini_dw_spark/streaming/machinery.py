"""Shared micro-batch machinery knobs (optimization round r09).

Two costs dominate the bounded-replay streaming fixtures at bench scale,
both machinery, neither the computation itself (measured in isolation,
ext_streaming_left_outer_attribution, min of 3):

- **State-store partition count.** Every stateful operator commits one
  state store per shuffle partition per micro-batch (delta file + commit
  + maintenance), so the per-batch floor is O(partitions), independent
  of state size. At the session default of 32 partitions the stream-
  stream left-outer join line reads 24.0 s; at 8 it reads 6.2 s — the
  state here is KB-scale and the extra partitions are pure commit
  overhead (guide §2.2: fewer, larger partitions). The drive runs at
  ``min(8, defaultParallelism)`` partitions (scale-adaptive): the count
  is sized to STATE, not to cluster cores, which is why it caps at 8
  rather than following $SPARK_GRAFT_CPUS upward.
- **Scratch placement.** Checkpoint metadata, state deltas and the
  bounded sink are per-run scratch (re-created from the parquet inputs
  every invocation); putting them on a RAM-backed tmpdir removes fsync
  stalls (6.2 s → 4.7 s on the same line). ``SPARK_GRAFT_STREAM_TMP``
  overrides; default prefers ``/dev/shm`` when writable, else the
  system tempdir. A production deployment points this at the durable
  checkpoint volume — durability of a bench-scoped ephemeral checkpoint
  is not a property the fixture needs.

Values are unchanged by construction: partition count and scratch
location never appear in any emitted row, and every run still computes
from the parquet inputs (tests/test_oracle_parity.py re-checked).
"""

from __future__ import annotations

import contextlib
import os
import tempfile
from collections.abc import Iterator

from pyspark.sql import SparkSession

_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def stream_shuffle_partitions(spark: SparkSession) -> int:
    """min(8, defaultParallelism) — scale-adaptive, never more
    state stores than cores for the KB-scale fixture state (measured at
    4 cores: 8 partitions 7.6 s vs 4 partitions 5.4 s on the left-outer
    line, min of 2)."""
    return max(1, min(8, spark.sparkContext.defaultParallelism))


@contextlib.contextmanager
def stream_shuffle(spark: SparkSession) -> Iterator[None]:
    """Run the enclosed micro-batch drive with state-sized shuffle
    partitions; restore the session default afterwards (the post-sink
    batch rollups keep the caller's setting)."""
    before = spark.conf.get(_SHUFFLE_KEY)
    spark.conf.set(_SHUFFLE_KEY, str(stream_shuffle_partitions(spark)))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_KEY, before)


# Minimum free bytes before /dev/shm is considered usable scratch: a
# bounded-replay fixture round-trips the landing copy + checkpoint +
# sink (tens of MB at bench scale); 1 GiB of headroom keeps a Docker
# default 64 MB shm (or a nearly-full one) from ENOSPC-ing mid-stream.
_SHM_MIN_FREE_BYTES = 1 << 30


def _shm_usable(path: str = "/dev/shm") -> bool:
    if not (os.path.isdir(path) and os.access(path, os.W_OK)):
        return False
    try:
        st = os.statvfs(path)
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES


# The one subdirectory of a scratch base this module owns: every run's
# mkdtemp lands here, and only here is swept — a user-supplied
# ``SPARK_GRAFT_STREAM_TMP`` may hold files this module did not create.
_OWNED_SUBDIR = "etl_mini_dw_scratch"


def scratch_dir(prefix: str) -> str:
    """Per-run scratch dir (checkpoints, bounded sinks, landing dirs).

    Prefers RAM-backed ``/dev/shm`` only when it has ≥1 GiB free
    (ADVICE r9: a small or full tmpfs must fall back to the system
    tempdir rather than ENOSPC mid-query); ``SPARK_GRAFT_STREAM_TMP``
    overrides unconditionally. Either base gets the run's dir inside
    ``_OWNED_SUBDIR``. Callers remove their scratch on success; a
    crashed run's leftovers are bounded by the per-run mkdtemp and
    swept by ``_purge_stale`` or the OS tmpfs lifecycle."""
    base = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if base is None and _shm_usable():
        base = "/dev/shm"
    if base:
        owned = os.path.join(base, _OWNED_SUBDIR)
        os.makedirs(owned, exist_ok=True)
        _purge_stale(owned)
        return tempfile.mkdtemp(prefix=prefix, dir=owned)
    return tempfile.mkdtemp(prefix=prefix)


_PURGE_AGE_SECONDS = 24 * 3600


def _purge_stale(owned: str) -> None:
    """Best-effort sweep of scratch left by crashed/old runs (ADVICE r9:
    RAM-backed scratch otherwise accumulates across runs). Only entries
    of the module-owned dir ``owned`` that are older than a day are
    touched, so neither a concurrent live session's scratch (hours at
    most) nor anything else under the base is ever at risk; all errors
    are swallowed — purging is hygiene, never correctness."""
    import shutil
    import time

    try:
        cutoff = time.time() - _PURGE_AGE_SECONDS
        for name in os.listdir(owned):
            path = os.path.join(owned, name)
            try:
                if os.path.getmtime(path) < cutoff:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass
