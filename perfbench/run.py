#!/usr/bin/env python3
"""GFE release-ingest and graph-query benchmark.

    python3 perfbench/run.py --workload {query,mixed} --seed N --seconds S --trace {0,1}

Run from the repository root. The seed fixes the generated releases and the
query targets. With `--trace 0` the run reports the end-to-end metrics; with
`--trace 1` it records layer spans and reports the per-layer metrics, and
writes the spans and the per-layer table to
`$CARGO_TARGET_DIR/perfbench/trace-<workload>-<seed>.json` (default
`.bench_build/`). The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. Every file the run writes
stays under that directory, and the run's temporary data is removed at exit.

Spark runs as `local[<cores>]` in this process, with its driver heap fixed
at 2 GiB, so the peak resident set is steady from run to run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("query", "mixed")
BASE_SEED = 0
BASE_ALLELES = 2000
RELEASES = {"query": 2, "mixed": 4}  # the base release and the updates
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "release_s": "s",
    "alleles_per_s": "1/s",
    "queries_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def _hwm_mb(pid: int | str) -> float:
    """A process's resident-set high-water mark, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _isolate(tmp: str) -> None:
    """Keep Spark's and Python's temporary files inside the run directory and
    fix the Spark driver's heap below physical memory."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote(f"spark.local.dir={tmp}"),
            "--conf " + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "pyspark-shell",
        ]
    )


def _stop(spark) -> float:
    """Stop Spark and wait for the JVM to exit; returns the JVM's peak RSS."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_mb = _hwm_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    return jvm_mb


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)
    try:
        import gfe_db_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the gfe_db_spark package is not under {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.abspath(
        os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    )
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    root = os.path.join(work, run_id)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    _isolate(tmp)

    try:
        return _run(args, work, root, run_id)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _run(args, work: str, root: str, run_id: str) -> int:
    from gfe_db_spark.session import get_spark

    import workloads as W
    from gen import Model, generate
    from spans import UNITS, NullTracer, Tracer, instrument

    rs = generate(BASE_SEED, args.seed, BASE_ALLELES, RELEASES[args.workload])
    models = []
    model = Model()
    for release, alleles in zip(rs.releases, rs.alleles):
        model.commit(release, alleles)
        models.append(model.copy())

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=str(len(os.sched_getaffinity(0))))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        base = W.base_store(spark, work, rs, BASE_SEED, BASE_ALLELES)
        tracer = NullTracer()
        if args.trace:
            tracer = Tracer(spark, run_id)
            tracer.add_span("session.start", t0, t1)
            instrument(tracer)
        run = W.Run(spark, rs, models, root, args.seed, tracer)
        W.restore_base(run, base)
        workload = W.query_workload if args.workload == "query" else W.mixed_workload
        setup_s = workload(run, args.seconds, T_START)
        W.check(run)
        if args.trace:
            metrics = W.per_layer(run)
            units = UNITS
        else:
            py_mb = _hwm_mb("self")
    finally:
        jvm_mb = _stop(spark)
    if not args.trace:
        metrics = W.end_to_end(run, setup_s, py_mb + jvm_mb)
        units = END_TO_END
    else:
        tracer.dump(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"), metrics)

    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not run.problems and run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
