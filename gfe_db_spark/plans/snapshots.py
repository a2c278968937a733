"""S12 depth: versioned graph snapshots + snapshot diff.

The reference's backup story is S3 prefix-per-release copies
(ref ``run.sh:161-172``, restore = repoint `load_db.sh` at a prefix).
Spark-native form: each snapshot is a directory ``<root>/v<NNNN>`` holding
a manifest graph committed by `upsert_graph` — the same store format as
the live graph, as the reference's backups are dumps of its one store —
plus a diff operator that compares two snapshots table-by-table — the
release-audit tool (`what changed in 3560?`) the reference answers by
re-running Cypher counts.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.plans.load import MERGE_RULES, GraphTables, upsert_graph

_VERSION_RE = re.compile(r"^v(\d{4})$")


def list_snapshots(spark: SparkSession, root: str) -> list[str]:
    """Snapshot versions under root, ascending (Hadoop FS — works on
    hdfs/s3a prefixes too)."""
    from gfe_db_spark.plans.merge import hadoop_fs

    fs, hpath = hadoop_fs(spark, root)
    if not fs.exists(hpath):
        return []
    names = [s.getPath().getName() for s in fs.listStatus(hpath)]
    return sorted(n for n in names if _VERSION_RE.match(n))


def save_snapshot(graph: GraphTables, root: str) -> str:
    """Commit `graph` into the next, empty version directory (v0001,
    v0002, …) through `upsert_graph`; returns its name. Append-only:
    existing snapshots are never touched, so restore is
    `load_snapshot(root, version)` and rollback is a repoint."""
    spark = graph.nodes_gfe.sparkSession
    existing = list_snapshots(spark, root)
    nxt = 1 + (int(_VERSION_RE.match(existing[-1]).group(1)) if existing else 0)
    name = f"v{nxt:04d}"
    upsert_graph(graph, os.path.join(root, name))
    return name


def load_snapshot(spark: SparkSession, root: str, version: str | None = None) -> GraphTables:
    """Load a snapshot (default: latest)."""
    versions = list_snapshots(spark, root)
    if not versions:
        raise FileNotFoundError(f"no snapshots under {root}")
    return GraphTables.load(spark, os.path.join(root, version or versions[-1]))


def snapshot_diff(old: GraphTables, new: GraphTables) -> DataFrame:
    """Table-by-table diff on merge keys: rows added / removed / changed
    between two snapshots. Fully lazy: each table is one full-outer join of
    per-row signatures (key + md5 of the sorted, concatenated row) reduced
    to a single counts row; the tables union into one plan, so the whole
    diff is one Spark action with only keyed equi-join shuffles — no
    full-width rows move, and nothing runs until the caller acts."""

    def table_delta(name: str, old_df: DataFrame, new_df: DataFrame) -> DataFrame:
        keys, _rule = MERGE_RULES[name]

        def row_sig(df: DataFrame, sig_name: str) -> DataFrame:
            cols = sorted(df.columns)
            sig = F.md5(
                F.concat_ws(
                    "\x00", *[F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in cols]
                )
            )
            return df.select(*keys, sig.alias(sig_name))

        joined = row_sig(new_df, "__new_sig").join(
            row_sig(old_df, "__old_sig"), on=keys, how="full_outer"
        )
        def nsum(cond) -> F.Column:
            return F.coalesce(F.sum(cond.cast("long")), F.lit(0))  # empty table → 0

        return joined.agg(
            F.lit(name).alias("table"),
            nsum(F.col("__old_sig").isNull()).alias("n_added"),
            nsum(F.col("__new_sig").isNull()).alias("n_removed"),
            nsum(
                F.col("__old_sig").isNotNull()
                & F.col("__new_sig").isNotNull()
                & (F.col("__old_sig") != F.col("__new_sig"))
            ).alias("n_changed"),
        )

    parts = [table_delta(name, old_df, getattr(new, name)) for name, old_df in old.items()]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table")
