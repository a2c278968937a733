"""Catalog-bucketed tables: the shuffle-free co-located join path.

At 100 TB the dominant cost of a repeated fact⨝fact join (e.g. lineitem ⨝
orders on the order key) is re-shuffling both sides on every run. Writing
both tables bucketed on the join key with the SAME bucket count moves that
shuffle to write time, once: each side's bucket i holds exactly the keys
hashing to i, so the join reads buckets pairwise and the physical plan has
no Exchange on either side (pinned by
tests/test_plan_contracts.py::test_bucketed_join_is_shuffle_free).

This is the catalog-table twin of the `__bucket=` directory layout that
`plans/txtable.tx_upsert` uses for its MERGE substrate — same
hash-co-location idea, expressed through Spark's native bucketing so the
optimizer (not our code) recognizes the distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    keys: list[str],
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Write `df` as an external catalog table bucketed (and by default
    sorted) on `keys`. Sorting within buckets lets the join skip its sort
    step too (SortMergeJoin reads presorted runs)."""
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, keys[0], *keys[1:])
    )
    if sort:
        writer = writer.sortBy(keys[0], *keys[1:])
    writer.format("parquet").saveAsTable(name)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed catalog table (the bucket metadata rides along from
    the catalog, so joins/aggregations on the bucket keys skip their
    exchange)."""
    return spark.table(name)
