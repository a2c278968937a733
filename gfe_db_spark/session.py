"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is a single JVM; the same configuration
(AQE, sensible shuffle partitioning, Arrow) is what we would ship to a
1000-executor cluster — only the sizing knobs differ.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import SparkSession

#: The core count assumed when $SPARK_GRAFT_CPUS is unset.
DEFAULT_CPUS = "32"

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)


def get_spark(app_name: str = "gfe_db_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes: on a real cluster the master/memory settings come from the
    submitter; everything else here (AQE with partition coalescing + skew-join
    handling, Arrow transfers for the few Pandas-UDF operators, UTC session
    timezone, shuffle partitions sized to the cluster) carries over unchanged.
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core locally; on a cluster this would be
        # ~2-3x total cores. AQE coalesces post-shuffle partitions anyway.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize plans that fill a persist()/cache() — off by
        # default only to keep cached output partitioning stable for
        # consumers that depend on it, which nothing here does. Without it
        # a cache-fill executes the initial plan: fixed-width exchanges,
        # no partition coalescing, no runtime join downgrades (bit us in
        # the registry's persist-materialized commit batch, r13).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Local-mode split sizing: the default 128MB/4MB (maxPartitionBytes/
        # openCostInBytes) leaves a 10MB file in 3 splits → 3 of 32 cores
        # busy. Small splits use the whole machine; a cluster submitter
        # overrides these back to defaults (env knobs below).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "262144"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make `gfe_db_spark` importable on executor workers regardless of the
    driver's cwd/PYTHONPATH by shipping the package as a py-file.

    Needed because pandas-UDF/mapInPandas functions are pickled by module
    reference; without this a driver process started outside the repo (the
    round driver, a spark-submit from elsewhere, a real cluster) fails with
    ModuleNotFoundError on the first UDF-bearing job. On a real cluster this
    is exactly how the package would be distributed (`--py-files`).
    """
    if getattr(spark, "_gfe_db_spark_shipped", False):
        return
    import tempfile
    import zipfile

    import gfe_db_spark

    pkg_dir = os.path.dirname(os.path.abspath(gfe_db_spark.__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"gfe_db_spark_pkg_{os.getpid()}_{id(spark)}.zip"
    )
    with zipfile.ZipFile(remove_at_exit(zpath), "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._gfe_db_spark_shipped = True


_EXIT_PATHS: set[str] = set()


def _remove_exit_paths() -> None:
    for path in _EXIT_PATHS:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)


def remove_at_exit(path: str) -> str:
    """Delete `path` (a file or a directory tree) when the interpreter
    exits, and return it: for scratch output that lazy frames read after
    the call that wrote it returns."""
    if not _EXIT_PATHS:
        atexit.register(_remove_exit_paths)
    _EXIT_PATHS.add(path)
    return path
