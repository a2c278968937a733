from __future__ import annotations

import os

import pytest

from gfe_db_spark.session import get_spark

#: single source of truth for the driver-generated testdata root — every
#: test derives scale dirs from here (r12 advice: no inline literals).
TESTDATA_ROOT = "/root/testdata"
SF_SMOKE = f"{TESTDATA_ROOT}/sf0.001"
SF_CORRECT = f"{TESTDATA_ROOT}/sf0.01"
SF_BENCH = f"{TESTDATA_ROOT}/sf0.1"


def _half_physical_memory() -> str | None:
    """Half of MemTotal as a JVM size ("7g"), or None if unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, kib // (2 * 1024 * 1024))}g"
    except OSError:
        pass
    return None


@pytest.fixture(scope="session")
def spark():
    # the session's default JVM heap (16g) can exceed a small machine's
    # physical memory; cap it at half of RAM unless the caller chose a size
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        mem = _half_physical_memory()
        if mem is not None:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    spark = get_spark(
        "gfe_db_spark_tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    yield spark
