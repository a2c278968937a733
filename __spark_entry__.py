"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All real logic lives in ``gfe_db_spark``; this module is the thin contract
surface.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable regardless of the driver's cwd.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query; the driver checks rows>0.

    The GFE pipeline end to end on the deterministic mini-release: EMBL
    parse → build → accession registry → graph load → motif query.
    """
    from gfe_db_spark.queries.graph import gfe_end_to_end

    return gfe_end_to_end(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The GFE engine's registry entries (graph, Cypher, naming, txtable)."""
    from gfe_db_spark.queries import gfe_queries

    return {name: spec.fn for name, spec in gfe_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; every GFE entry has one."""
    from gfe_db_spark.queries import gfe_queries

    return {name: spec.sql for name, spec in gfe_queries().items()}
