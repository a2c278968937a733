"""Small-file compaction: content preservation, partition-layout
preservation, idempotent re-runs, and crash recovery at both interruption
points of the swap protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gfe_db_spark.plans.compaction import (
    CompactionStats,
    compact_small_files,
    file_stats,
    recover_compaction,
)
from gfe_db_spark.plans.merge import fs_exists, fs_write_text


def _write_fragmented(spark, path, n_rows=2000, n_files=40):
    df = spark.range(n_rows).withColumn("v", F.col("id") * 2)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _write_fragmented(spark, path)
    before = file_stats(spark, path).count()
    assert before >= 30
    stats = compact_small_files(spark, path, target_bytes=10 * 1024 * 1024)
    assert isinstance(stats, CompactionStats)
    assert not stats.skipped
    assert stats.files_before == before
    assert stats.files_after < before
    assert stats.rows == 2000
    got = spark.read.parquet(path)
    assert got.count() == 2000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_compaction_skips_already_compact_target(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    stats = compact_small_files(spark, path)
    assert stats.skipped and stats.files_before == stats.files_after == 1


def test_compaction_preserves_hive_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(3000).withColumn("part", (F.col("id") % 3).cast("int"))
    df.repartition(30).write.partitionBy("part").mode("overwrite").parquet(path)
    stats = compact_small_files(
        spark, path, target_bytes=10 * 1024 * 1024, partition_by=["part"]
    )
    assert stats.files_after < stats.files_before
    got = spark.read.parquet(path)
    assert got.count() == 3000
    # partition pruning must survive: directory layout intact
    one = spark.read.parquet(path).filter("part = 1")
    assert one.count() == 1000
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "part#" in plan


def test_recover_promotes_completed_staging(spark, tmp_path):
    # crash between delete(target) and rename(staging): target missing,
    # staging complete (marker present) → promote
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, n_rows=500, n_files=5)
    staging = path + ".compacting"
    spark.read.parquet(path).coalesce(1).write.parquet(staging)
    fs_write_text(spark, staging + "/_COMPACTION_COMPLETE", "ok")
    from gfe_db_spark.plans.merge import fs_delete

    fs_delete(spark, path)
    assert recover_compaction(spark, path) == "promoted"
    assert spark.read.parquet(path).count() == 500
    assert not fs_exists(spark, staging)


def test_recover_discards_partial_staging(spark, tmp_path):
    # crash during the staged write: target intact, staging has no marker
    # → staging torn down, target untouched, rerun converges
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, n_rows=500, n_files=5)
    staging = path + ".compacting"
    spark.read.parquet(path).limit(10).coalesce(1).write.parquet(staging)
    assert recover_compaction(spark, path) == "discarded"
    assert not fs_exists(spark, staging)
    stats = compact_small_files(spark, path, target_bytes=10 * 1024 * 1024)
    assert stats.rows == 500


def test_recover_refuses_partial_staging_without_target(spark, tmp_path):
    # the impossible-under-protocol state: never silently destroy the only
    # copy of the data
    path = str(tmp_path / "t")
    staging = path + ".compacting"
    spark.range(10).write.parquet(staging)
    from gfe_db_spark.plans.merge import hadoop_fs

    fs, _ = hadoop_fs(spark, staging + "/_SUCCESS")
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(HPath(staging + "/_SUCCESS"), False)
    with pytest.raises(RuntimeError, match="manual recovery"):
        recover_compaction(spark, path)


def test_compaction_composes_with_bucketed_upsert(spark, tmp_path):
    """Compacting a key-bucketed ``__bucket=`` hive dir (the bucketing of
    the MERGE substrate, `plans/merge.bucket_expr`) must keep every row in
    the bucket directory its key hashes to, so bucket-pruned reads stay
    exact after the rewrite."""
    from gfe_db_spark.plans.merge import bucket_expr

    target = str(tmp_path / "t")
    base = spark.range(500).selectExpr("id AS k", "id * 2 AS v")
    # fragment the target the way an external writer would: 10 tasks, each
    # writing a file into every bucket directory
    base.withColumn("__bucket", bucket_expr(["k"], 4)).repartition(10).write.partitionBy(
        "__bucket"
    ).parquet(target)
    assert file_stats(spark, target).count() > 4

    stats = compact_small_files(
        spark, target, target_bytes=10 * 1024 * 1024, partition_by=["__bucket"]
    )
    assert stats.files_after < stats.files_before
    assert stats.rows == 500

    out = spark.read.parquet(target)
    assert out.count() == 500
    assert out.agg(F.sum("v")).first()[0] == 2 * sum(range(500))
    # every row still sits in the bucket its key hashes to
    assert out.filter(F.col("__bucket") != bucket_expr(["k"], 4)).count() == 0
    one = out.filter("__bucket = 1")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert 0 < one.count() < 500


def test_compaction_unifies_evolved_schema(spark, tmp_path):
    """Compacting a target whose files disagree on schema (a later append
    added a column to one bucket) must read through mergeSchema (a plain
    read samples one footer and would silently drop the added column) and,
    as a side effect, rewrite every file with the full schema so plain
    reads work again afterwards."""
    from gfe_db_spark.plans.merge import bucket_expr

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, "x") for i in range(100) if i != 1], "k long, v string"
    )
    base.withColumn("__bucket", bucket_expr(["k"], 4)).write.partitionBy(
        "__bucket"
    ).parquet(target)
    widened = spark.createDataFrame([(1, "y", 7)], "k long, v string, extra long")
    widened.withColumn("__bucket", bucket_expr(["k"], 4)).write.partitionBy(
        "__bucket"
    ).mode("append").parquet(target)

    stats = compact_small_files(
        spark, target, target_bytes=10 * 1024 * 1024, partition_by=["__bucket"]
    )
    assert stats.rows == 100
    # plain read (no mergeSchema) now sees the added column everywhere
    out = spark.read.parquet(target)
    assert "extra" in out.columns
    got = {r.k: r.extra for r in out.filter("k <= 2").collect()}
    assert got[1] == 7 and got[0] is None and got[2] is None
