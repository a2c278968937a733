#!/usr/bin/env python3
"""Multi-JVM execution smoke: hash parity local[8] vs local-cluster[2,4,4096].

Everything else in this repo runs local[*] — one JVM, one Python worker
pool — which structurally cannot catch the executor-separation bug class:
unserializable closures, driver-only filesystem assumptions, broadcast
transport, reliable-checkpoint recovery, Python-worker imports on a
remote executor (r12 verdict missing item 1). Spark's `local-cluster`
master launches REAL separate worker JVMs (each forking its own Python
workers) with real executor-to-executor shuffle and broadcast transport,
while still needing no daemons.

This tool runs the GFE engine's registry entries (queries.GFE_ENTRIES:
the GFE pipeline, naming, Cypher, alignment and txtable entries), or the
ones named by --names, under BOTH masters in separate subprocesses and
compares canonicalized result hashes. Under local-cluster a reliable
checkpoint dir is configured, so entries with iterative `.checkpoint()`
loops (dedup_clusters, via --names) exercise it across JVM boundaries.

Every selected entry is driver-hash-green vs DuckDB, so its output is
deterministic under any partitioning; a hash difference here is a real
execution bug, not agg-order noise.

Usage:
    python tools/smoke_local_cluster.py            # orchestrate + compare
    python tools/smoke_local_cluster.py --master 'local[8]' --out f.json
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from gfe_db_spark.queries import GFE_ENTRIES  # noqa: E402


SF_DIR_DEFAULT = "/root/testdata/sf0.001"
CLUSTER_MASTER = "local-cluster[2,4,4096]"


def result_hash(pdf) -> str:
    """Canonical order-free hash of a pandas result: the same
    column-sort + stringified-row-sort normalization testing.compare
    uses before value comparison, md5'd."""
    from gfe_db_spark.testing import _normalize

    norm = _normalize(pdf)
    payload = "\x1e".join(
        "\x00".join(map(str, row)) for row in norm.itertuples(index=False)
    )
    header = "|".join(f"{c}:{norm[c].dtype}" for c in norm.columns)
    return hashlib.md5((header + "\x1f" + payload).encode()).hexdigest()


def run_one_master(master: str, out_path: str, sf_dir: str, names: list[str]) -> None:
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(master)
        .appName("smoke_local_cluster")
        .config("spark.sql.shuffle.partitions", "8")
        # executors in OTHER JVMs fork their own Python workers, which
        # must import gfe_db_spark (cloudpickle serializes module-level
        # functions by reference)
        .config("spark.executorEnv.PYTHONPATH", _REPO)
    )
    if master.startswith("local-cluster"):
        builder = builder.config("spark.executor.memory", "2g")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    ckpt = None
    try:
        if master.startswith("local-cluster"):
            # reliable-checkpoint mode: iterative loops (dedup_clusters)
            # must survive executor loss on a real cluster — exercise
            # .checkpoint() across JVM boundaries, not localCheckpoint
            ckpt = tempfile.mkdtemp(prefix="smoke_ckpt_")
            spark.sparkContext.setCheckpointDir(ckpt)

        from gfe_db_spark.queries import all_queries

        specs = all_queries()
        for name in names:
            t0 = time.perf_counter()
            try:
                pdf = specs[name].fn(spark, sf_dir).toPandas()
                results[name] = {
                    "hash": result_hash(pdf),
                    "rows": len(pdf),
                    "wall_s": round(time.perf_counter() - t0, 1),
                }
            except Exception as e:  # recorded; the comparer fails loudly
                results[name] = {"error": f"{type(e).__name__}: {e}"}
            print(f"[{master}] {name}: {results[name]}", flush=True)
    finally:
        spark.stop()
        if ckpt:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump({"master": master, "results": results}, f, indent=1)


def orchestrate(sf_dir: str, names: list[str], out: str | None) -> int:
    tmp = tempfile.mkdtemp(prefix="smoke_lc_")
    paths = {}
    for label, master in (("local", "local[8]"), ("cluster", CLUSTER_MASTER)):
        paths[label] = os.path.join(tmp, f"{label}.json")
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--master", master, "--out", paths[label],
            "--sf-dir", sf_dir, "--names", ",".join(names),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=_REPO)
        print(f"== {master}: rc={proc.returncode} "
              f"({time.perf_counter() - t0:.0f}s)", flush=True)
        if proc.returncode != 0:
            return 2
    local = json.load(open(paths["local"]))["results"]
    cluster = json.load(open(paths["cluster"]))["results"]
    report = {"sf_dir": sf_dir, "cluster_master": CLUSTER_MASTER, "entries": {}}
    n_bad = 0
    for name in names:
        a, b = local.get(name, {}), cluster.get(name, {})
        ok = (
            "hash" in a and "hash" in b
            and a["hash"] == b["hash"] and a["rows"] == b["rows"]
        )
        n_bad += not ok
        report["entries"][name] = {
            "ok": ok,
            "rows": a.get("rows"),
            "hash": a.get("hash"),
            "local_wall_s": a.get("wall_s"),
            "cluster_wall_s": b.get("wall_s"),
            **({"local_error": a["error"]} if "error" in a else {}),
            **({"cluster_error": b["error"]} if "error" in b else {}),
            **(
                {"cluster_hash": b.get("hash")}
                if "hash" in a and "hash" in b and a["hash"] != b["hash"]
                else {}
            ),
        }
        print(f"{name}: {'OK' if ok else 'MISMATCH'} {report['entries'][name]}",
              flush=True)
    report["ok"] = n_bad == 0
    if out:
        with open(out, "w") as f:
            json.dump(report, f, indent=1)
    print(f"SMOKE {'PASS' if n_bad == 0 else f'FAIL ({n_bad} bad)'}", flush=True)
    return 0 if n_bad == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master")
    ap.add_argument("--out")
    ap.add_argument("--sf-dir", default=SF_DIR_DEFAULT)
    ap.add_argument("--names", default=",".join(GFE_ENTRIES))
    args = ap.parse_args()
    names = [n for n in args.names.split(",") if n]
    if args.master:
        run_one_master(args.master, args.out, args.sf_dir, names)
        return 0
    return orchestrate(args.sf_dir, names, args.out)


if __name__ == "__main__":
    raise SystemExit(main())
