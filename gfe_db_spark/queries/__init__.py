"""Query registry: every operator from SURVEY.md §2 exposed as a named
(spark_fn, oracle_sql) pair.

Each module contributes a ``QUERIES: dict[str, QuerySpec]``;
``all_queries()`` merges them into the full registry that the CLI and the
local oracle sweep run. The driver contract (`__spark_entry__.py`) exposes
only the GFE engine's entries, ``GFE_ENTRIES``, as ``queries()`` /
``oracle_sql()``. Oracle SQL is ANSI SQL runnable by DuckDB over the same
parquet tables; queries whose semantics aren't SQL-expressible set
``sql=None`` and get the weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One named query: the Spark implementation and its DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB-runnable ANSI SQL, or None for rows-only check
    doc: str = ""


#: The GFE engine's entries: release build and naming, the Cypher front end
#: and the reference's three validation queries, the alignment join, and the
#: manifest-table commit (txtable). Every one is hash-checked against its
#: oracle. This is the system the driver contract exposes.
GFE_ENTRIES: tuple[str, ...] = (
    "gfe_end_to_end",
    "gfe_naming",
    "cypher_front_end",
    "cypher_validation_node_counts",
    "cypher_validation_release_histogram",
    "cypher_validation_accession_counts",
    "alignment_join",
    "txtable_upsert",
    "txtable_time_travel_diff",
)


def all_queries() -> dict[str, QuerySpec]:
    """Aggregate every module's QUERIES. Import here (not module top-level)
    so a syntax error in one module is attributable."""
    from gfe_db_spark.queries import (
        bpe,
        dedup,
        graph,
        layout,
        multimodal,
        relational,
        similarity,
        text,
        tpch_plus,
        tpch_rest,
        warehouse,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        tpch_plus,
        tpch_rest,
        graph,
        dedup,
        similarity,
        layout,
        bpe,
        text,
        multimodal,
        warehouse,
    ):
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        merged.update(mod.QUERIES)
    return merged


def gfe_queries() -> dict[str, QuerySpec]:
    """The GFE engine's entries, in ``GFE_ENTRIES`` order."""
    specs = all_queries()
    return {name: specs[name] for name in GFE_ENTRIES}
