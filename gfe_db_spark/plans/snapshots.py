"""S12 depth: versioned graph snapshots + snapshot diff.

The reference's backup story is S3 prefix-per-release copies
(ref ``run.sh:161-172``). Here the graph manifests (`plans/load`) already
pin every table generation and record the committed releases, so a
snapshot copies nothing: it is a retention pin
``<graph>/_snapshots/<n:08d>.json`` = ``{"graph_manifest": N}`` (version
``v<nnnn>``) that `vacuum_graph` honours — time travel and rollback kept in
the log that commits the data, as in Iceberg and Delta.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.plans.load import MERGE_RULES, _graph_manifest_dir, read_graph_manifest
from gfe_db_spark.plans.txtable import (
    _commit_manifest,
    current_manifest_number,
    fs_read_text,
    latest_numbered_json,
    numbered_jsons,
    publish_numbered_json,
    read_manifest,
    tx_changes,
)


def list_snapshots(spark: SparkSession, graph_path: str) -> dict[str, int]:
    """Snapshot version -> the graph-manifest number it pins (the `as_of`
    that opens it with `GraphTables.load`), ascending. Hadoop FS — works
    on hdfs/s3a prefixes too."""
    sdir = os.path.join(graph_path, "_snapshots")
    return {
        f"v{n:04d}": json.loads(fs_read_text(spark, f"{sdir}/{n:08d}.json"))["graph_manifest"]
        for n in numbered_jsons(spark, sdir)
    }


def _pinned(spark: SparkSession, graph_path: str, version: str | None) -> dict:
    """The graph manifest snapshot `version` (default: the latest) pins."""
    pins = list_snapshots(spark, graph_path)
    if version is None and pins:
        version = list(pins)[-1]
    if version not in pins:
        raise FileNotFoundError(f"no snapshot {version} under {graph_path}")
    return read_graph_manifest(spark, graph_path, pins[version])


def save_snapshot(spark: SparkSession, graph_path: str) -> str:
    """Pin the graph's newest graph manifest as the next version (v0001,
    v0002, …) and return its name. One JSON write; no data moves."""
    gm = read_graph_manifest(spark, graph_path)["generation"]
    sdir = os.path.join(graph_path, "_snapshots")
    n = (latest_numbered_json(spark, sdir)[0] or 0) + 1
    publish_numbered_json(spark, sdir, n, {"graph_manifest": gm})
    return f"v{n:04d}"


def restore_snapshot(spark: SparkSession, graph_path: str, version: str | None = None) -> int:
    """Roll the live graph back to snapshot `version` (default: latest) in
    O(1), copying no data: republish each pinned table manifest as its
    table's newest generation, then the pinned graph manifest — release
    record included — as the newest graph manifest. Readers switch at that
    last publish. The watermark rolls back with the data, so the next load
    reprocesses every later release on top of the restored generations.
    Returns the new graph-manifest number."""
    gdoc = _pinned(spark, graph_path, version)
    tables = {}
    for name, gen in gdoc["tables"].items():
        root = os.path.join(graph_path, name)
        tables[name] = current_manifest_number(spark, root) + 1
        _commit_manifest(
            spark, root, {**read_manifest(spark, root, gen), "generation": tables[name]}
        )
    n = read_graph_manifest(spark, graph_path)["generation"] + 1
    publish_numbered_json(
        spark, _graph_manifest_dir(graph_path), n, {**gdoc, "generation": n, "tables": tables}
    )
    return n


def snapshot_diff(
    spark: SparkSession, graph_path: str, old: str, new: str | None = None
) -> DataFrame:
    """Rows added / removed / changed per table between snapshots `old` and
    `new` (default: the latest): `tx_changes` rows of each change type
    between the generations the two pins name — the release audit (`what
    changed in 3560?`) the reference answers by re-running Cypher counts.
    Lazy: one union plan, one Spark action when the caller acts."""
    a, b = (_pinned(spark, graph_path, v)["tables"] for v in (old, new))

    def count(kind: str, alias: str) -> F.Column:
        hit = (F.col("change_type") == kind).cast("long")
        return F.coalesce(F.sum(hit), F.lit(0)).alias(alias)  # no rows → 0

    parts = [
        tx_changes(
            spark, os.path.join(graph_path, name), a[name], keys, generation=b[name]
        ).agg(
            F.lit(name).alias("table"),
            count("insert", "n_added"),
            count("delete", "n_removed"),
            count("update", "n_changed"),
        )
        for name, (keys, _rule) in MERGE_RULES.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table")
