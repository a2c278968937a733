"""Parquet table catalog for the driver's synthetic star schema.

Mirrors reference operator S5/S6 (schema-declared tabular sources,
`validate_build_output/app.py:87,165-198`) on the parquet substrate: every
read is schema-checked, columnar, and prunable by Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ship_package(spark: SparkSession) -> None:
    """Re-export of session.ship_package: every `table()` call guarantees
    executors can import the package before any UDF-bearing plan runs."""
    from gfe_db_spark.session import ship_package as _ship

    _ship(spark)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain `spark.read.parquet` so Catalyst keeps
    predicate pushdown + column pruning (check via .explain: PushedFilters /
    ReadSchema).

    Timestamp encodings vary across driver testdata generations —
    TIMESTAMP(NANOS) (vectorized reader rejects it; read nanos-long and
    convert in the scan projection) and plain timestamp[us] (Spark 4 infers
    TIMESTAMP_NTZ, which `unix_millis`/interval arithmetic reject). Both are
    normalized here to session-zone TIMESTAMP; the session zone is pinned to
    UTC (session.py) so the NTZ cast is value-preserving.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ship_package(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    return _normalize_timestamps(df)


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Rewrite nanos-long `ts` and any TIMESTAMP_NTZ column to TIMESTAMP."""
    from pyspark.sql import functions as F

    cols = []
    changed = False
    for fname, dtype in df.dtypes:
        if fname == "ts" and dtype == "bigint":
            # integer division: ts/1000 as double loses sub-µs precision at
            # ~1.7e18 ns (double ulp ≈ 0.25 µs there) → off-by-1-ms bugs
            cols.append(F.timestamp_micros(F.expr("ts div 1000")).alias("ts"))
            changed = True
        elif dtype == "timestamp_ntz":
            cols.append(F.col(fname).cast("timestamp").alias(fname))
            changed = True
        else:
            cols.append(F.col(fname))
    return df.select(*cols) if changed else df


def _table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap content fingerprint of one parquet table's on-disk files:
    sorted (relative name, size, mtime_ns) triples. Regenerating or
    swapping the parquet at the same path (test fixtures, re-materialized
    .testdata slices) changes the fingerprint, so memoized sizing stats
    can never serve a stale count for new data (r9 advice). Listing a
    parquet directory is a handful of stat() calls — far cheaper than the
    Spark job the memo avoids."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        parts = []
        for fn in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, fn))
            parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
        return ";".join(parts)
    if os.path.exists(path):
        st = os.stat(path)
        return f"{st.st_size}:{st.st_mtime_ns}"
    return "<missing>"


#: (abs sf_dir, table, fingerprint) -> sizing stat. The count on a raw
#: parquet table is footer-metadata cheap, but the adaptive-sizing queries
#: call it at CONSTRUCTION time (plan-contract tests, repeated bench
#: invocations run the same (sf_dir, table) many times per process), so
#: memoize it. The on-disk fingerprint in the key means a regenerated
#: table at the same path misses the cache instead of serving stale stats;
#: anything derived from a transformed DataFrame must go through
#: `DataFrame.count()` directly.
_SIZING_CACHE: dict[tuple, object] = {}


def memo_sizing(sf_dir: str, name: str, tag: str, compute):
    """Shared memo for sizing pre-jobs (row counts, distinct-digest
    counts, benchmark cardinalities): at most one Spark job per
    (table contents, statistic) per process. `tag` names the statistic —
    two different stats over the same table never collide (r9 advice on
    the bench-set memo)."""
    key = (os.path.abspath(sf_dir), name, tag, _table_fingerprint(sf_dir, name))
    if key not in _SIZING_CACHE:
        _SIZING_CACHE[key] = compute()
    return _SIZING_CACHE[key]


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Cached row count of one raw parquet table (r8 advice: don't pay a
    Spark job per query-construction for a number that cannot change)."""
    return memo_sizing(
        sf_dir, name, "rowcount", lambda: table(spark, sf_dir, name).count()
    )


def corpus_stats(
    spark: SparkSession, sf_dir: str, name: str = "documents", text_col: str = "text"
) -> tuple[int, int]:
    """(n_rows, approx distinct md5(text)) of one raw table in ONE
    aggregation job, memoized like `table_rowcount`. This is the shared
    sizing input for duplication-adaptive physical-plan choices (gated vs
    ungated dedup plans): the distinct count is approximate (HLL++) —
    fine, because the choice it drives is a stats-based physical decision
    between two row-identical plans, never a semantics fork."""

    def _compute():
        from pyspark.sql import functions as F

        # rsd=0.01: the default 5% error straddles the gate threshold on a
        # near-distinct corpus (e.g. true ratio 0.998 could estimate under
        # 0.95); 1% keeps the decision stable and HLL at 1% is still tiny.
        # cast("string") makes the digest well-defined for non-string
        # payload columns too (e.g. embeddings' array<float> — Spark's
        # double->string is shortest-round-trip, so distinct arrays map to
        # distinct strings); it is a no-op for text columns.
        row = (
            table(spark, sf_dir, name)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(
                    F.md5(F.col(text_col).cast("string")), 0.01
                ).alias("d"),
            )
            .first()
        )
        return (int(row["n"]), int(row["d"]))

    return memo_sizing(sf_dir, name, f"corpus_stats:{text_col}", _compute)
