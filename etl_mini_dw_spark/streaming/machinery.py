"""The bounded-replay streaming protocol, written once.

Every streaming topology replays the events parquet (or a landing dir
built from it) through a real Structured Streaming query, drives it to
completion synchronously and returns a lazy batch read of what its sink
wrote. This module owns every step of that protocol; a topology keeps
only its own plan and its own read-back:

- ``replay_events``: the events file source, one file per trigger;
- ``drive``: checkpoint dir, state-sized shuffle partitions,
  start → process all available → stop, and removal of the query's own
  scratch (checkpoint, replay-guard markers, landing dir) once it
  stops, also after an error;
- ``parquet_sink`` (complete mode overwrites, append mode appends) and
  ``merge_sink`` (exactly-once keyed MERGE), the two sinks built on it.

Two costs dominate the drive at bench scale, both machinery, neither the
computation itself (measured in isolation on
ext_streaming_left_outer_attribution, min of 3):

- **State-store partition count.** Every stateful operator commits one
  state store per shuffle partition per micro-batch, so the per-batch
  floor is O(partitions), independent of state size: 24.0 s at 32
  partitions, 6.2 s at 8. The drive runs at ``min(8,
  defaultParallelism)`` partitions — sized to the KB-scale state, not
  to cluster cores.
- **Scratch placement.** Checkpoints, state deltas and sinks are per-run
  scratch re-created from the parquet inputs every invocation; a
  RAM-backed tmpdir removes fsync stalls (6.2 s → 4.7 s on the same
  line). ``SPARK_GRAFT_STREAM_TMP`` overrides the base; a production
  deployment points it at the durable checkpoint volume.

Neither partition count nor scratch location appears in any emitted row.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from etl_mini_dw_spark.etl.store import IdempotentForeachBatch, ParquetStore
from etl_mini_dw_spark.sources.tables import load_table

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


def replay_events(spark: SparkSession, sf_dir: str, landing: str | None = None) -> DataFrame:
    """The events file source at one file per trigger: the sf dir's
    ``events.parquet``, or every ``*.parquet`` of a ``landing`` dir.

    The source carries the RAW parquet schema (the ts dtype varies by
    testdata generation), inferred once per file by ``load_table``;
    topologies chain the typed-ingest conversions they need. The file
    source wants a directory, hence the glob."""
    raw_schema = load_table(spark, sf_dir, "events").schema
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet" if landing else "events.parquet")
        .parquet(landing or sf_dir)
    )


def drive(
    df: DataFrame,
    mode: str,
    batch_fn: Callable[[DataFrame, int], None],
    *owned: str | None,
) -> None:
    """Run ``df`` in output ``mode`` through ``foreachBatch(batch_fn)``
    until every available file is processed, then stop it.

    The checkpoint dir and the ``owned`` dirs (replay-guard markers, a
    landing dir) belong to this one query and are removed once it stops,
    whether it finished or raised."""
    spark = df.sparkSession
    ckpt = scratch_dir(prefix="stream_ckpt_")
    try:
        with stream_shuffle(spark):
            q = (
                df.writeStream.outputMode(mode)
                .option("checkpointLocation", ckpt)
                .foreachBatch(batch_fn)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        for d in (ckpt, *owned):
            if d:
                shutil.rmtree(d, ignore_errors=True)


def parquet_sink(df: DataFrame, mode: str, landing: str | None = None) -> DataFrame:
    """Drive ``df`` into a parquet dir and return a lazy read of it.

    Complete mode: every batch carries the full result → overwrite.
    Append mode: every batch carries only new rows → append. Each batch
    is a distributed write; no result row passes through the driver."""
    out = scratch_dir(prefix="stream_sink_")
    write_mode = "overwrite" if mode == "complete" else "append"

    def _write(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out)

    drive(df, mode, _write, landing)
    return df.sparkSession.read.schema(df.schema).parquet(out)


def merge_sink(df: DataFrame, keys: list[str], landing: str | None = None) -> DataFrame:
    """Drive update-mode ``df`` into a stored table by keyed MERGE and
    return the table.

    Each batch carries the new cumulative row of every key it touched;
    ``merge_upsert`` replaces those keys, so the table always holds the
    latest row per key. The batch-id replay guard
    (``IdempotentForeachBatch``) plus the keyed MERGE give an
    exactly-once effect across restarts."""
    spark = df.sparkSession
    store = ParquetStore(scratch_dir(prefix="stream_store_"))
    commits = scratch_dir(prefix="stream_commits_")

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        store.merge_upsert(spark, batch_df, "merged", keys=keys)

    drive(df, "update", IdempotentForeachBatch(commits, _merge), commits, landing)
    return store.read(spark, "merged")


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

# Every dir scratch_dir made in this process; removed at interpreter exit.
_CREATED: list[str] = []


@atexit.register
def _remove_created() -> None:
    for d in _CREATED:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """Per-run scratch dir (checkpoints, sinks, stores, landing dirs).

    Prefers RAM-backed ``/dev/shm`` only when it has ≥1 GiB free
    (ADVICE r9: a small or full tmpfs must fall back to the system
    tempdir rather than ENOSPC mid-query); ``SPARK_GRAFT_STREAM_TMP``
    overrides unconditionally. Either base gets the run's dir inside
    ``_OWNED_SUBDIR``. ``drive`` removes a query's checkpoint, markers
    and landing dir when the query stops; sink and store dirs stay while
    the returned lazy frames may read them, and every dir made here is
    removed at interpreter exit. A killed process's leftovers are swept
    by ``_purge_stale`` once a day old."""
    base = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if base is None and _shm_usable():
        base = "/dev/shm"
    if base:
        owned = os.path.join(base, _OWNED_SUBDIR)
        os.makedirs(owned, exist_ok=True)
        _purge_stale(owned)
        d = tempfile.mkdtemp(prefix=prefix, dir=owned)
    else:
        d = tempfile.mkdtemp(prefix=prefix)
    _CREATED.append(d)
    return d


_PURGE_AGE_SECONDS = 24 * 3600


def _purge_stale(owned: str) -> None:
    """Best-effort sweep of scratch left by killed runs (ADVICE r9:
    RAM-backed scratch otherwise accumulates across runs). Only entries
    of the module-owned dir ``owned`` that are older than a day are
    touched, so neither a concurrent live session's scratch (hours at
    most) nor anything else under the base is ever at risk; all errors
    are swallowed — purging is hygiene, never correctness."""
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
