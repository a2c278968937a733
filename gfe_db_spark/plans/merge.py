"""MERGE rules and key bucketing over plain parquet.

The reference's load path is a per-table idempotent upsert (Neo4j MERGE,
ref ``load.cyp:1-138``). Absent a transactional table format (SURVEY §4
allows parquet), the naive parquet MERGE is read-union-dedup-overwrite of
the WHOLE target per commit — O(table) per batch, a scale-killer at
100 TB. This module holds the pieces that make a commit O(batch):

- `bucket_expr`: targets are hash-bucketed on their merge key
  (``__bucket = pmod(xxhash64(keys), n_buckets)`` — deterministic,
  engine-portable), so a batch touches a bounded set of buckets and only
  those are read and rewritten;
- `merge_clustered`: the ON MATCH semantics (create_only / update /
  custom merge_fn) of every MERGE in the engine, clustered by
  ``__bucket`` for the commit's partitioned write;
- the ``fs_*`` helpers: Hadoop FileSystem access for any scheme.

The commit protocol itself lives in `plans/txtable.py`: each commit lands
in a fresh immutable generation dir published by an atomic manifest
rename, so a reader always resolves one complete snapshot. On a
Delta/Iceberg cluster the same call sites become ``MERGE INTO``; the
bucket column and merge rules carry over unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def bucket_expr(keys: list[str], n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic bucket for a merge key: pmod(xxhash64(keys), n).
    xxhash64 (not rand/monotonic id) keeps retries and speculative tasks
    consistent — the same property operators/skew.py relies on."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")


def merge_clustered(
    existing: DataFrame,
    batch: DataFrame,
    keys: list[str],
    on_match: str,
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None,
) -> DataFrame:
    """The ON MATCH rule (batch-wins ``update``, ``create_only``, or a
    custom `merge_fn` combine) ∘ cluster-by-__bucket in ONE exchange (r14,
    guide §2.4/§8): the rule-based MERGE plans as a priority argmax over
    `union(batch, existing)` keyed on (__bucket, keys) — ``update`` gives
    the batch row priority, ``create_only`` the existing row — after a
    pinned hash(__bucket) repartition. Because __bucket is a function of
    the keys and a member of the group keys, hash(__bucket) satisfies the
    aggregate's clustering, so the plan is scan → ONE exchange → argmax →
    write, replacing the legacy three-exchange chain (batch dedup
    exchange + anti-join exchange(s) + the writer's repartition(__bucket))
    AND the anti join itself. The result is physically clustered by
    __bucket: callers write it with ``partitionBy("__bucket")`` directly,
    no further repartition.

    Semantics are those of dropDuplicates(keys) + an anti-join MERGE
    (``update``: batch ∪ existing-not-in-batch; ``create_only``: existing
    ∪ batch-not-in-existing), row-for-row, given the writers' standing
    invariant that `existing` holds at most one row per key (every commit
    path dedups):
    - matched key → batch row ('update') / existing row ('create_only');
    - unmatched → the single present row;
    - duplicate batch keys → one arbitrary row (dropDuplicates' pick is
      equally arbitrary);
    - NULL merge keys keep the exact legacy anti-join semantics (SQL
      MERGE: NULL never matches — existing null-key rows always survive,
      batch null-key rows dedup among themselves, nulls-equal, and
      insert): they route through two side branches whose isNull
      predicates push into the scans, so tables with no null keys prune
      those branches to zero row groups via parquet null_count stats.
    A custom `merge_fn` keeps the legacy path (its combine is opaque),
    clustered for the writer."""
    if merge_fn is not None:
        return merge_fn(existing, batch).repartition(F.col("__bucket"))
    if on_match not in ("update", "create_only"):
        raise ValueError(f"unknown on_match: {on_match}")
    batch_pri = 1 if on_match == "update" else 0
    u = batch.withColumn("__pri", F.lit(batch_pri)).unionByName(
        existing.withColumn("__pri", F.lit(1 - batch_pri))
    )
    others = [c for c in u.columns if c not in {*keys, "__bucket", "__pri"}]
    keys_nonnull = F.lit(True)
    for k in keys:
        keys_nonnull = keys_nonnull & F.col(k).isNotNull()
    out_cols = [c for c in u.columns if c != "__pri"]  # legacy column order
    clustered = u.filter(keys_nonnull).repartition(F.col("__bucket"))
    if others:
        merged = (
            clustered.groupBy("__bucket", *keys)
            .agg(F.max_by(F.struct(*others), F.col("__pri")).alias("__row"))
            .select(
                *[
                    c if c in keys or c == "__bucket" else F.col("__row")[c].alias(c)
                    for c in out_cols
                ]
            )
        )
    else:
        # key-only table (every column is a merge key): both rules reduce
        # to key-distinct; the distinct's clustering is likewise satisfied
        # by the pinned hash(__bucket)
        merged = clustered.drop("__pri").distinct()
    null_existing = u.filter(~keys_nonnull & (F.col("__pri") == (1 - batch_pri))).drop(
        "__pri"
    )
    null_batch = (
        u.filter(~keys_nonnull & (F.col("__pri") == batch_pri))
        .drop("__pri")
        .dropDuplicates(keys)
    )
    return merged.unionByName(null_existing).unionByName(null_batch)


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme — the shared
    filesystem door for every module that checks/renames/deletes paths
    (local file://, hdfs://, s3a:// alike)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_exists(spark, path: str) -> bool:
    """Existence via the Hadoop FileSystem API — os.path only sees the
    local FS; targets here may be hdfs:// or s3a://."""
    fs, hpath = hadoop_fs(spark, path)
    return fs.exists(hpath)


def fs_delete(spark, path: str) -> None:
    fs, hpath = hadoop_fs(spark, path)
    fs.delete(hpath, True)


def fs_write_text(spark, path: str, text: str) -> None:
    """Small text file via the Hadoop FS API (works for file://, hdfs://,
    s3a:// alike — manifests must live wherever the table lives)."""
    fs, hpath = hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def fs_read_text(spark, path: str) -> str:
    fs, hpath = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        jvm = spark._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()
