"""Small-file compaction for parquet targets (the OPTIMIZE maintenance op).

Every incremental writer of plain parquet — batch appends, snapshot
exports, hive-partitioned dumps — adds files per commit, and
at 100 TB the accumulated small files dominate scan cost: each file costs a
task, an open, and a footer read, so a table written by 10k commits can
spend more time scheduling than scanning. The reference never needs this
(its store compacts internally, ref ``neo4j.conf:24-34`` store tuning);
on plain parquet it is the operator a user must run.

Protocol (staged write + completion marker + swap):

1. list the target's data files via the Hadoop FS API (file://, hdfs://,
   s3a:// alike) — sizes only, no data read;
2. plan one output file per ``target_bytes`` of input (per partition
   directory when the target is hive-partitioned, so partition pruning
   is preserved);
3. rewrite into ``<target>.compacting`` with an explicit
   ``_COMPACTION_COMPLETE`` marker written only after the staged write
   returns (never trust the committer's optional _SUCCESS);
4. swap: delete the original, rename the staged dir in.

`recover_compaction` finishes a crash between (4)'s delete and rename —
the only window where the target is missing — by promoting the completed
staged dir; a staged dir *without* the marker is torn down as garbage.

The swap in (4) is crash-safe but NOT reader-isolated: a reader scanning
during the delete→rename window errors or sees nothing. For tables that
need concurrent readers during maintenance, use the manifest-pointer
layout (`plans/txtable.py`): `tx_compact` folds generations and repoints
the manifest atomically, so readers never observe a missing or mixed
table — old generations stay until `tx_vacuum`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.plans.merge import fs_delete, fs_exists, fs_write_text, hadoop_fs

_MARKER = "_COMPACTION_COMPLETE"
DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


@dataclass(frozen=True)
class CompactionStats:
    files_before: int
    files_after: int
    bytes_total: int
    rows: int
    skipped: bool  # already compact — nothing rewritten


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, size) for every parquet data file under `path`, recursively
    (hive-partitioned targets keep files one directory down). Metadata
    only — no data is read."""
    fs, root = hadoop_fs(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if status.isFile() and name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((status.getPath().toString(), status.getLen()))
    return out


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_by: list[str] | None = None,
    min_files: int = 2,
) -> CompactionStats:
    """Rewrite `path` into ~`target_bytes` files; returns before/after
    telemetry. A no-op (skipped=True) when the target already has fewer
    than `min_files` files — compaction must be safely re-runnable on a
    schedule without rewriting healthy tables.

    For hive-partitioned targets pass `partition_by`: the rewrite
    repartitions on the partition columns so each directory gets its own
    coalesced files and partition pruning survives the rewrite.

    Scale note: the rewrite reads each byte once and writes it once —
    O(table) like any OPTIMIZE — so production runs it per-partition or
    per-bucket on the partitions a freshness watermark says changed, not
    table-wide; this function applied to one partition directory IS that
    incremental form.
    """
    recover_compaction(spark, path)
    files = _list_data_files(spark, path)
    bytes_total = sum(sz for _, sz in files)
    # mergeSchema ALWAYS: a target appended to with a widened schema has
    # files with differing schemas, and a plain read samples one footer — compacting through it would silently
    # drop the evolved columns from old partitions. The footer-merge cost
    # is negligible next to the rewrite itself. Bonus: after compaction
    # every file carries the full schema, so plain reads work again.
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if len(files) < min_files:
        return CompactionStats(len(files), len(files), bytes_total, df.count(), True)

    n_out = max(1, -(-bytes_total // max(target_bytes, 1)))  # ceil
    staging = path.rstrip("/") + ".compacting"
    fs_delete(spark, staging)
    writer = df
    if partition_by:
        # one shuffle keyed on the partition columns: each directory's rows
        # land together, so ~n_out files spread across directories instead
        # of n_out files PER directory
        writer = df.repartition(n_out, *[F.col(c) for c in partition_by])
        writer.write.partitionBy(*partition_by).mode("overwrite").parquet(staging)
    else:
        writer = df.repartition(n_out)
        writer.write.mode("overwrite").parquet(staging)
    rows = spark.read.parquet(staging).count()
    fs_write_text(spark, staging + "/" + _MARKER, "ok")

    fs, _ = hadoop_fs(spark, path)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(HPath(path), True)
    fs.rename(HPath(staging), HPath(path))
    fs.delete(HPath(path.rstrip("/") + "/" + _MARKER), False)
    files_after = len(_list_data_files(spark, path))
    return CompactionStats(len(files), files_after, bytes_total, rows, False)


def recover_compaction(spark: SparkSession, path: str) -> str:
    """Repair an interrupted `compact_small_files`; returns what happened:
    'promoted' (target was missing, completed staging renamed in),
    'discarded' (stale/partial staging deleted; target intact), or
    'clean'. Safe at every crash point: the delete in the swap runs only
    after the marker is written, so a missing target implies a completed
    staging; a partial staging can only coexist with an intact target."""
    staging = path.rstrip("/") + ".compacting"
    if not fs_exists(spark, staging):
        return "clean"
    complete = fs_exists(spark, staging + "/" + _MARKER)
    target_exists = fs_exists(spark, path)
    fs, _ = hadoop_fs(spark, path)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    if not target_exists:
        if not complete:
            # cannot occur under the protocol; never destroy the only copy
            raise RuntimeError(
                f"target {path} missing and {staging} is partial; "
                "manual recovery required"
            )
        fs.rename(HPath(staging), HPath(path))
        fs.delete(HPath(path.rstrip("/") + "/" + _MARKER), False)
        return "promoted"
    fs_delete(spark, staging)
    return "discarded"


def file_stats(spark: SparkSession, path: str) -> DataFrame:
    """One row per data file (path, bytes) — the telemetry a compaction
    schedule keys off (small-file count per partition)."""
    files = _list_data_files(spark, path)
    return spark.createDataFrame(files, "file string, bytes long")
