"""Process-level behaviour of the session helpers: scratch output that
must outlive the call writing it is still removed when the process ends."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PREFIXES = (
    "gfe_db_spark_pkg_",  # session.ship_package
    "gfe_fx_plain_",  # queries/graph._fixture_build
    "gfe_fx_aligned_",
    "gfe_txtable_demo_",  # queries/warehouse.txtable_upsert
    "gfe_txtable_tt_",  # queries/warehouse.txtable_time_travel_diff
    "gfe_ivf_incr_",  # queries/similarity.ann_index_append
)

_CHILD = f"""
import json, os, tempfile
from gfe_db_spark.queries import graph, similarity, warehouse
from gfe_db_spark.session import get_spark

spark = get_spark("exit_cleanup_probe")
graph._fixture_build(spark)
graph._fixture_build(spark, with_alignments=True)
warehouse.txtable_upsert(spark, {SF_SMOKE!r}).count()
warehouse.txtable_time_travel_diff(spark, {SF_SMOKE!r}).count()
similarity.ann_index_append(spark, {SF_SMOKE!r}).count()
print(json.dumps(sorted(os.listdir(tempfile.gettempdir()))))
"""


def _ours(names: list[str]) -> list[str]:
    return sorted(n for n in names if n.startswith(_PREFIXES))


def test_scratch_files_removed_at_exit(tmp_path):
    """The shipped package zip, the fixture build dirs, the txtable
    entries' scratch tables and the IVF entry's scratch dir exist while
    the process runs (lazy frames read them) and are gone once its
    interpreter exits."""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    during = _ours(json.loads(out.stdout.strip().splitlines()[-1]))
    assert [p for p in _PREFIXES if not any(n.startswith(p) for n in during)] == []
    assert _ours(os.listdir(tmp_path)) == []
