"""Parquet table store with atomic swap (SURVEY §7 hard-parts 1 & 7).

The reference mutates warehouse tables in place under BEGIN TRAN/COMMIT
(`code/SQL_1…sql:924–990`). Spark tables are immutable, so the engine's
one write protocol is:

    compute full post-state lazily → write to a temp dir →
    rename current generation aside (``._old_*``) → rename temp into
    place → drop the old generation

A mid-run failure leaves the current generation readable — the same
all-or-nothing observable behavior as the reference's ROLLBACK. The swap
is two renames (not one atomic op); the only torn state is "final
missing, exactly one ``._old_*`` present" (crash between the renames),
which ``_recover`` detects and rolls back on the next read/exists/write.
``._tmp_*`` leftovers are in-flight writes that never committed and are
garbage-collected on the next write. At 100 TB the same protocol holds
per-table; on object stores you'd swap a manifest/metastore pointer
instead of a directory (exactly what Delta/Iceberg formalize — this
store is the minimal stand-in).

Known schemas: ``write`` records the frame's schema, as a schema-less
read would return it (every field nullable, partition columns last),
in a ``_schema.json`` sidecar inside the temp dir before the swap.
Spark's file listing skips ``_``-prefixed files, and the sidecar moves
with its generation through every rename (the swap, ``_recover``,
``._gen_*`` snapshots, a copied table dir), so no in-process state can
go stale. ``read`` and ``read_generation`` read with it and run no
schema-inference job; a dir without one (written by other code) falls
back to ``sources.tables.read_parquet``'s cached inference.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from etl_mini_dw_spark.sources.tables import read_parquet

SCHEMA_FILE = "_schema.json"


def rows_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """Python ``rows`` (possibly none) as one partition of ``schema`` (a
    struct type or its DDL string), built from literals: ``createDataFrame``
    runs a Python worker task per slice, which made a 4-row write take
    0.5–1 s against 0.2 s (4-core host)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, schema.fields)])
        for row in rows
    ]
    arr = F.array(*structs).cast(ArrayType(schema, containsNull=False))
    return spark.range(1, numPartitions=1).select(F.inline(arr))


def _nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _file_schema(schema: StructType, partition_by: list[str] | None = None) -> StructType:
    """``schema`` as a schema-less read of its written files returns it:
    every field nullable, partition columns last."""
    parts = partition_by or []
    fields = [f for f in schema.fields if f.name not in parts] + [schema[p] for p in parts]
    return _nullable(StructType(fields))


def _recorded_schema(table_dir: str) -> StructType | None:
    """The schema the store recorded for the generation in ``table_dir``."""
    try:
        with open(os.path.join(table_dir, SCHEMA_FILE)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _read_dir(spark: SparkSession, table_dir: str, schema: StructType | None = None) -> DataFrame:
    schema = schema or _recorded_schema(table_dir)
    if schema is None:
        return read_parquet(spark, table_dir)
    return spark.read.schema(schema).parquet(table_dir)


class ParquetStore:
    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _recover(self, name: str) -> None:
        """Roll a torn swap back to the previous generation.

        Crash window A (after ``final → old``, before ``tmp → final``):
        final is missing and exactly one ``._old_*`` holds the previous
        generation — restore it. Crash window B (after ``tmp → final``,
        before the old generation is dropped): final exists and the
        stranded ``._old_*`` is superseded — drop it. Partition-level
        swaps (``swap_partitions``) leave ``._oldpart_<sub>`` dirs INSIDE
        the table dir (leading dot ⇒ invisible to Spark's file listing);
        the sub name encodes the partition dir, so the same two windows
        are recovered per partition.
        """
        final = self.path(name)
        olds = sorted(glob.glob(f"{final}._old_*"))
        if os.path.isdir(final):
            for old in olds:  # window B: superseded generations
                shutil.rmtree(old, ignore_errors=True)
        elif len(olds) == 1:  # window A: restore the previous generation
            os.rename(olds[0], final)
        for old in glob.glob(os.path.join(final, "._oldpart_*")):
            sub = os.path.basename(old)[len("._oldpart_"):]
            dst = os.path.join(final, sub)
            if os.path.isdir(dst):  # window B (partition)
                shutil.rmtree(old, ignore_errors=True)
            else:  # window A (partition)
                os.rename(old, dst)

    def exists(self, name: str) -> bool:
        self._recover(name)
        return os.path.isdir(self.path(name))

    def read(self, spark: SparkSession, name: str, schema: StructType | None = None) -> DataFrame:
        """The current generation, read with ``schema``, else with the
        recorded one; only a table with neither is inferred."""
        self._recover(name)
        return _read_dir(spark, self.path(name), schema)

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        keep_generations: int = 0,
    ) -> None:
        """Materialize ``df`` as the new generation of ``name``, atomically-ish.

        ``keep_generations=N`` retains the last N superseded generations as
        dot-prefixed snapshot dirs (invisible to Spark's file listing) —
        the store's time travel (`read_generation`). Snapshot dirs
        are named by a monotonic counter, never a clock, so retention is
        deterministic and replay-safe.
        """
        self._recover(name)
        final = self.path(name)
        for stale in glob.glob(f"{final}._tmp_*"):  # uncommitted in-flight writes
            shutil.rmtree(stale, ignore_errors=True)
        tmp = f"{final}._tmp_{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        with open(os.path.join(tmp, SCHEMA_FILE), "w") as f:
            f.write(_file_schema(df.schema, partition_by).json())
        old = f"{final}._old_{uuid.uuid4().hex[:8]}"
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.isdir(old):
            if keep_generations > 0:
                gens = self.generations(name)
                nxt = int(os.path.basename(gens[-1]).rsplit("_", 1)[1]) + 1 if gens else 1
                os.rename(old, f"{final}._gen_{nxt:06d}")
            else:
                shutil.rmtree(old, ignore_errors=True)
        if keep_generations > 0:
            # prune only under an explicit retention policy: a default
            # write must not wipe snapshots another caller retained
            self._prune_generations(name, keep_generations)

    def generations(self, name: str) -> list[str]:
        """Retained past-generation dirs, oldest → newest."""
        return sorted(glob.glob(f"{self.path(name)}._gen_*"))

    def read_generation(self, spark: SparkSession, name: str, back: int = 1) -> DataFrame:
        """Time travel: the table state ``back`` swaps ago (0 = current).

        Only generations written with ``keep_generations`` are reachable;
        asking past the retention horizon raises — silently serving the
        oldest RETAINED state would misreport history.
        """
        if back == 0:
            return self.read(spark, name)
        gens = self.generations(name)
        if back > len(gens):
            raise ValueError(f"only {len(gens)} retained generations, asked back={back}")
        return _read_dir(spark, gens[-back])

    def _prune_generations(self, name: str, keep: int) -> None:
        gens = self.generations(name)
        drop = gens if keep <= 0 else gens[:-keep]
        for g in drop:
            shutil.rmtree(g, ignore_errors=True)

    def swap_partitions(
        self, df: DataFrame, name: str, partition_col: str, values: list
    ) -> None:
        """MERGE-shaped write: replace ONLY the partition directories named
        in ``values`` with ``df``'s rows (``df`` must hold exactly those
        partitions' post-state). Untouched partitions are not read, not
        rewritten, not even listed — the poor-man's `MERGE INTO` whose
        cost is ∝ touched partitions, which is what makes an incremental
        fact load feasible when the table is 100 TB and the delta touches
        three days. Per-partition swap uses the same rename protocol as
        ``write`` (see ``_recover`` for the torn windows); cross-partition
        atomicity is what a real table format's commit log would add.
        The table keeps its recorded schema, so ``df`` must match it.
        """
        assert values, "swap_partitions requires a non-empty touched set"
        self._recover(name)
        final = self.path(name)
        recorded = _recorded_schema(final)
        if recorded is not None and recorded != _file_schema(df.schema, [partition_col]):
            raise ValueError(
                f"swap_partitions: the frame's schema {df.schema.simpleString()} does not "
                f"match {name}'s recorded {recorded.simpleString()}"
            )
        tmp = f"{final}._tmp_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
        for v in values:
            sub = f"{partition_col}={v}"
            src = os.path.join(tmp, sub)
            if not os.path.isdir(src):
                continue  # delta claimed the partition but produced no rows
            dst = os.path.join(final, sub)
            old = os.path.join(final, f"._oldpart_{sub}")
            if os.path.isdir(dst):
                os.rename(dst, old)
            os.rename(src, dst)
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def drop(self, name: str) -> None:
        if os.path.isdir(self.path(name)):
            shutil.rmtree(self.path(name), ignore_errors=True)
        for leftover in (
            glob.glob(f"{self.path(name)}._old_*")
            + glob.glob(f"{self.path(name)}._tmp_*")
            + glob.glob(f"{self.path(name)}._gen_*")
        ):
            shutil.rmtree(leftover, ignore_errors=True)

    def data_files(self, name: str) -> list[str]:
        """Paths of the table's parquet data files (recursing into
        partition dirs; dot-prefixed swap dirs are invisible by glob)."""
        self._recover(name)
        final = self.path(name)
        return sorted(
            f
            for f in glob.glob(os.path.join(final, "**", "*.parquet"), recursive=True)
            if "._old" not in f and "._tmp" not in f
        )

    def compact(
        self, spark: SparkSession, name: str, target_file_bytes: int = 128 * 2**20
    ) -> tuple[int, int]:
        """Small-file compaction: rewrite the table into
        ``ceil(total_bytes / target_file_bytes)`` files via ``coalesce``
        (no shuffle — coalesce only glues scan splits together) and the
        same atomic swap as ``write``. Returns (files_before, files_after).

        The 100 TB operational reality this serves: streaming sinks and
        per-batch MERGEs accrete thousands of KB-scale files per table,
        and scan cost becomes file-open-bound. Production (Delta
        ``OPTIMIZE``) bin-packs per partition with a commit log;
        this is the same rewrite with directory-swap atomicity. No-op
        (zero rewrite cost) when the table already meets the target. A
        partitioned table stays partitioned by the columns of its
        first-level ``name=value`` dirs, as Spark's discovery finds them,
        and its target is ``n_target`` files per leaf dir: each coalesced
        task writes one file into every partition it holds.
        """
        files = self.data_files(name)
        total = sum(os.path.getsize(f) for f in files)
        n_target = max(1, -(-total // target_file_bytes))
        if n_target * len({os.path.dirname(f) for f in files}) >= len(files):
            return (len(files), len(files))
        parts = sorted(
            {
                d.name.split("=", 1)[0]
                for d in os.scandir(self.path(name))
                if d.is_dir() and "=" in d.name and not d.name.startswith((".", "_"))
            }
        )
        # post-state must be materialized before the swap unlinks its input
        post = self.read(spark, name).coalesce(n_target).localCheckpoint()
        self.write(post, name, partition_by=parts)
        return (len(files), len(self.data_files(name)))

    def write_clustered(
        self, df: DataFrame, name: str, cluster_by: list[str], n_files: int
    ) -> None:
        """Clustered write: range-partition on ``cluster_by`` into
        ``n_files`` output files, sorted within each — the production
        Z-order/data-skipping write path. Each file's footer min/max on
        the cluster columns is tight and files are pairwise ~disjoint,
        so a reader's skip predicate prunes whole files
        (``plans/layout.py`` computes the resulting zone map).
        repartitionByRange samples the keys for balanced bounds — one
        shuffle, no global sort."""
        out = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
        self.write(out, name)

    def merge_upsert(
        self, spark: SparkSession, df: DataFrame, name: str, keys: list[str]
    ) -> None:
        """Keyed MERGE (upsert): rows in ``df`` replace same-key rows in the
        table; all other current rows survive; new keys insert.

        Parquet has no row-level commit log, so the merge is
        read-current → anti-join out the touched keys → union the new
        image → atomic swap. Correct and all-or-nothing, but cost is
        ∝ table size, not ∝ delta size — the structural reason a 100 TB
        warehouse wants a transactional format, whose log-commit MERGE
        rewrites only the touched files.
        """
        if not self.exists(name):
            self.write(df, name)
            return
        current = self.read(spark, name)
        post = current.join(df.select(*keys).distinct(), keys, "left_anti").unionByName(df)
        # localCheckpoint: the post-state must be fully computed BEFORE the
        # swap renames the generation it is reading from out from under it
        self.write(post.localCheckpoint(), name)

    def delete_keys(
        self, spark: SparkSession, name: str, keys_df: DataFrame, keys: list[str]
    ) -> None:
        """Keyed DELETE (the right-to-be-forgotten seam): remove every row
        whose key appears in ``keys_df``; everything else survives.

        Read-current → anti-join → atomic swap (cost ∝ table, the same
        structural limit as ``merge_upsert``). The anti-join broadcasts
        when the key set is small — the common erasure-request shape.
        """
        if not self.exists(name):
            return
        current = self.read(spark, name)
        post = current.join(keys_df.select(*keys).distinct(), keys, "left_anti")
        self.write(post.localCheckpoint(), name)


class IdempotentForeachBatch:
    """Exactly-once-effective ``foreachBatch`` wrapper.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch``: after a restart the last micro-batch is REPLAYED
    with the same ``batch_id``, and Spark's own docs put the dedup
    burden on the sink. This wrapper records committed batch ids as
    marker files; a replayed id is skipped. The marker is written AFTER
    the wrapped function returns, so the one remaining torn window
    (crash between apply and marker) re-applies the batch — which is
    why the wrapped operation should be idempotent by key (a keyed
    ``merge_upsert`` is): guard + keyed MERGE = exactly-once effect.
    At scale the marker dir lives next to the checkpoint on the same
    object store; one tiny file per batch.
    """

    def __init__(self, commits_dir: str, fn) -> None:
        self.commits_dir = commits_dir
        self.fn = fn
        self.skipped: list[int] = []
        os.makedirs(commits_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.commits_dir, f"{batch_id}.done")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._marker(batch_id)):
            self.skipped.append(batch_id)
            return
        self.fn(batch_df, batch_id)
        open(self._marker(batch_id), "w").close()
